package graft

import graft.multimodal.Multimodal
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Extension-surface queries: multimodal binary columns and the
  * batch-equivalent of the streaming windowed aggregation (Structured
  * Streaming runs the SAME plan incrementally — see graft.streaming).
  *
  * The synthetic media table derives deterministic binary payloads and
  * metadata from `documents` (this container ships no real media), so the
  * DuckDB oracle can recompute every feature from the same md5 hex.
  */
object ExtQueries {

  import Queries.tbl

  /** documents -> media rows: payload = unhex(md5(text)) (16 bytes),
    * metadata derived from n_chars.
    */
  private def media(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      unhex(md5(col("text"))).as("payload"),
      struct(
        ((col("n_chars") % 624) + 16).cast("int").as("width"),
        (((col("n_chars") * 7) % 464) + 16).cast("int").as("height"),
        (col("n_chars") / 40).cast("int").as("n_frames")).as("meta"))

  private val MetaSql =
    """m AS (SELECT doc_id AS media_id,
      |  CAST((n_chars % 624) + 16 AS INT) AS width,
      |  CAST(((n_chars * 7) % 464) + 16 AS INT) AS height,
      |  CAST(n_chars // 40 AS INT) AS n_frames
      |FROM documents)""".stripMargin

  // Genuine container-header byte layouts (hex), dimensions spliced in:
  // PNG:  signature + IHDR length (13) + "IHDR" | w(4) h(4) | bit depth 8,
  //       color type 6, compression/filter/interlace 0, CRC (unvalidated)
  // JPEG: SOI + APP0/JFIF (length 0x0010) + SOF0 marker, length 0x0011,
  //       precision 8 | h(2) w(2) | 3 components + EOI
  private val PngPrefixHex = "89504E470D0A1A0A0000000D49484452"
  private val PngSuffixHex = "0806000000DEADBEEF"
  private val JpegPrefixHex = "FFD8FFE000104A46494600010100000100010000FFC0001108"
  private val JpegSuffixHex = "03011100021101031101FFD9"

  /** Little-endian hex of an integer column at a fixed byte width —
    * RIFF/WAV fields are LE (vs PNG/JPEG's BE): byte pairs reversed.
    */
  private def leHex(x: org.apache.spark.sql.Column, bytes: Int): org.apache.spark.sql.Column = {
    val h = lpad(hex(x), bytes * 2, "0")
    concat((0 until bytes).reverse.map(b => substring(h, 2 * b + 1, 2)): _*)
  }

  /** documents -> media rows whose payloads are REAL RIFF/WAVE headers
    * (fmt + data chunk declarations, no sample bytes — the header-only
    * shape of a ranged read): media_id mod 3 = 0 plain, = 1 with a
    * LIST/INFO chunk before fmt (exercises the chunk walk), = 2 a
    * non-RIFF blob for the detection path.
    */
  private def audioMedia(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    val mod3 = pmod(col("doc_id"), lit(3))
    val c = (lit(1) + pmod(col("doc_id"), lit(2))).cast("int")
    val rate = (lit(8000) + pmod(col("n_chars"), lit(5)) * 1600).cast("int")
    val block = (c * 2).cast("int")
    val nFrames = (lit(50) + pmod(col("n_chars"), lit(100))).cast("int")
    val dataSize = (nFrames * block).cast("int")
    val byteRate = (rate * block).cast("int")
    val riffSize = (lit(4) + when(mod3 === 1, 12).otherwise(0) + lit(24 + 8) + dataSize).cast("int")
    val hx = when(mod3 === 2, concat(lit("00"), md5(col("text"))))
      .otherwise(concat(
        lit("52494646"), leHex(riffSize, 4), lit("57415645"), // RIFF size WAVE
        when(mod3 === 1, lit("4C49535404000000494E464F")).otherwise(lit("")), // LIST(4) INFO
        lit("666D742010000000" + "0100"), // "fmt " size=16, PCM
        leHex(c, 2), leHex(rate, 4), leHex(byteRate, 4), leHex(block, 2), lit("1000"), // bits=16
        lit("64617461"), leHex(dataSize, 4))) // "data" + declared size
    d.select(col("doc_id").as("media_id"), unhex(hx).as("payload"))
  }

  /** documents -> media rows whose payloads are REAL MP4 (ISO-BMFF)
    * headers: `ftyp` (major brand isom / mp42 by media_id mod 3 = 0/1,
    * the latter with a `free` box before `moov` and an `iods` child
    * before `mvhd` to exercise both walks), then `moov` containing a
    * version-0 `mvhd` with real timescale/duration; mod 3 = 2 is a
    * non-MP4 blob. All box sizes are self-consistent big-endian u32.
    */
  private def videoMedia(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    val mod3 = pmod(col("doc_id"), lit(3))
    val ts = (lit(600) + pmod(col("n_chars"), lit(5)) * 300).cast("int")
    val dur = (col("n_chars") * 3).cast("int")
    val mvhdHex = concat(lit("0000001C" + "6D766864" + "00000000" + "00000000" + "00000000"),
      lpad(hex(ts), 8, "0"), lpad(hex(dur), 8, "0"))
    val moovPlain = concat(lit("00000024" + "6D6F6F76"), mvhdHex) // 8 + 28
    val moovIods = concat(lit("00000030" + "6D6F6F76" + "0000000C" + "696F6473" + "00000000"),
      mvhdHex) // 8 + 12 + 28
    val ftyp = (brand: String) =>
      lit("00000010" + "66747970" + brand + "00000200")
    val hx = when(mod3 === 2, concat(lit("00"), md5(col("text"))))
      .when(mod3 === 0, concat(ftyp("69736F6D"), moovPlain)) // isom
      .otherwise(concat(ftyp("6D703432"), // mp42 + free box detour
        lit("0000000C" + "66726565" + "00000000"), moovIods))
    d.select(col("doc_id").as("media_id"), unhex(hx).as("payload"))
  }

  /** documents -> media rows whose payloads are REAL container headers:
    * PNG / JPEG header bytes carrying the meta dimensions (media_id
    * mod 3 = 0 / 1), or a non-image blob (mod 3 = 2) for the detection
    * path. The header parser then reads the dimensions back out of the
    * BYTES — no metadata shortcut.
    */
  private def imageMedia(s: SparkSession, dir: String): DataFrame = {
    val w = col("meta.width")
    val h = col("meta.height")
    val hx = when(pmod(col("media_id"), lit(3)) === 0,
        concat(lit(PngPrefixHex),
          lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"), lit(PngSuffixHex)))
      .when(pmod(col("media_id"), lit(3)) === 1,
        concat(lit(JpegPrefixHex),
          lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"), lit(JpegSuffixHex)))
      .otherwise(concat(lit("00"), hex(col("payload"))))
    media(s, dir).select(col("media_id"), unhex(hx).as("payload"))
  }

  def defs: Map[String, QueryDef] = Map(

    "stream_window_agg" -> QueryDef(
      (s, dir) => Streaming.windowedCounts(tbl(s, dir, "events")),
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             |  event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1, 2""".stripMargin),
      doc = "tumbling-window agg shared verbatim with the streaming ingest plan"),

    "stream_window_sliding" -> QueryDef(
      (s, dir) =>
        // sliding windows: each event lands in window_size/slide windows
        // (here 2h/1h = 2); Spark expands via a generator, state still
        // bounded by the watermark horizon when run as a stream.
        tbl(s, dir, "events")
          .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start").as("window_start"), col("event_type"), col("n")),
      Some("""WITH expanded AS (
             |  SELECT time_bucket(INTERVAL '1 hour', ts) - CAST(u.o AS INT) * INTERVAL '1 hour' AS window_start,
             |    event_type
             |  FROM events, unnest([0, 1]) AS u(o))
             |SELECT window_start, event_type, count(*) AS n
             |FROM expanded GROUP BY 1, 2""".stripMargin),
      doc = "sliding-window aggregation (2h window, 1h slide)"),

    "stream_session_window" -> QueryDef(
      (s, dir) =>
        // Spark's native session_window: per-user sessions close after
        // 30 min of inactivity — must agree exactly with the hand-rolled
        // lag+running-sum sessionization (event_sessionize).
        tbl(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("w.start").as("session_start"), col("n_events")),
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts, 1) OVER w IS NULL THEN 1
             |         WHEN epoch_ms(ts) - epoch_ms(lag(ts, 1) OVER w) > 1800000 THEN 1
             |         ELSE 0 END AS gap
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(gap) OVER (PARTITION BY user_id ORDER BY ts ASC
             |      ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM g)
             |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
             |FROM s GROUP BY user_id, session_id""".stripMargin),
      doc = "native session_window vs hand-rolled sessionization: identical sessions"),

    "stream_dedup" -> QueryDef(
      (s, dir) => {
        // re-delivered events (ids ending in 0, full identical rows)
        // unioned into the feed; the dedup guard collapses them. Batch
        // and streaming share the plan; the streaming variant
        // (dropDuplicatesWithinWatermark, bounded state) is
        // MemoryStream-spec-verified.
        val events = tbl(s, dir, "events")
        val feed = events.unionByName(events.filter(col("event_id") % 10 === 0))
        Streaming.dedupEvents(feed, "event_id")
          .select("event_id", "ts", "user_id", "event_type")
      },
      Some("""SELECT event_id, ts, user_id, event_type FROM events""".stripMargin),
      doc = "streaming-shaped exact dedup guard on the event id (batch-shared plan)"),

    "stream_interval_join" -> QueryDef(
      (s, dir) => {
        val ev = tbl(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id"))
        Streaming.intervalJoin(clicks, purchases)
      },
      Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             |  p.user_id AS user_id
             |FROM events p JOIN events c
             |  ON p.user_id = c.user_id
             | AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
             |WHERE p.event_type = 'purchase' AND c.event_type = 'click'""".stripMargin),
      doc = "stream-stream interval join (purchase attribution), batch-shared plan"),

    "stream_exactly_once_ingest" -> QueryDef(
      (s, dir) => {
        // EXACTLY-ONCE streaming ingest: foreachBatch is at-least-once
        // (a crash between the sink commit and the checkpoint advance
        // re-delivers the batch on restart), so the sink stamps the
        // (queryId, batchId) watermark into the snapshot SUMMARY
        // atomically with the commit and skips any batch at or below
        // it — Iceberg's streaming-sink idempotence, realized here.
        // The fixture streams events as TWO microbatches, then REPLAYS
        // both batch ids through the same sink: both must be skipped
        // (no snapshot advance, no duplicate rows — the oracle's plain
        // `events` row set is the proof).
        import org.apache.spark.sql.types._
        val t = graft.template.TemplateLoader.get(MetaQueries.TemplatesDir, "events")
        val ev = Queries.tbl(s, dir, "events")
        val qid = "exactly_once_fixture"
        // the streamed-in table is an IMMUTABLE prelude: two source files
        // -> maxFilesPerTrigger=1 -> two watermark-stamped microbatch
        // commits, built ONCE per session; each invocation then clones
        // the table's metadata and exercises the operator under test —
        // the restart-replay skip, which is a pure watermark check
        val base = MetaQueries.warmBaseDir("stream_exactly_once_ingest", dir) { b =>
          val cut = lit("2024-01-25 00:00:00").cast("timestamp")
          ev.filter(col("ts") < cut).coalesce(1).write.parquet(s"$b/src/b0")
          ev.filter(col("ts") >= cut).coalesce(1).write.parquet(s"$b/src/b1")
          val schema = s.read.parquet(s"$b/src/b0").schema
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true").parquet(s"$b/src")
            .withColumn("ts", col("ts").cast(TimestampType))
          val seeded = graft.sink.SnapshotTable(s"$b/wh", t.namespace, t.name)
          Streaming.startExactlyOnceIngest(stream, t, seeded, s"$b/ckpt", qid)
            .awaitTermination()
          require(seeded.lastCommittedBatch(qid).exists(_ >= 1L),
            "two microbatches must have committed with summary watermarks")
        }
        val wh = MetaQueries.freshWarehouse("stream_exactly_once_ingest")
        MetaQueries.cloneWarehouseMetadata(s"$base/wh", wh)
        val table = graft.sink.SnapshotTable(wh, t.namespace, t.name)
        val head = table.currentSnapshot.get
        // replay BOTH batches (restart-after-crash shape): each must be
        // recognized by its id and skipped — no new snapshot, no dup rows
        Seq(0L, 1L).foreach { bid =>
          val replay = graft.sink.TableSink.appendOnce(
            ev, t, table, qid, bid)
          require(replay.isEmpty, s"replayed batch $bid must be skipped")
        }
        require(table.currentSnapshot.get.id == head.id &&
          table.currentSnapshot.get.rowCount == head.rowCount,
          "replays must not advance the table")
        // a genuinely NEW batch id still commits (the watermark only
        // blocks ids at or below it) — stage it with zero rows so the
        // oracle row set is untouched
        require(graft.sink.TableSink.appendOnce(
          ev.limit(0), t, table, qid, 2L).isDefined,
          "a new batch id must commit")
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events""".stripMargin),
      doc = "exactly-once streaming ingest: the (queryId, batchId) watermark " +
        "rides the snapshot summary atomically with each commit; replayed " +
        "microbatches are skipped, restarts never double-append"),

    "stream_lakehouse_ingest" -> QueryDef(
      (s, dir) => {
        // REAL streaming end-to-end: file-source readStream over the
        // events parquet -> foreachBatch -> governed snapshot append
        // (schema check + partition derivation + audit per microbatch),
        // then read the committed table back. AvailableNow drains the
        // source and stops, so the query is deterministic.
        import org.apache.spark.sql.types._
        val wh = MetaQueries.freshWarehouse("stream_lakehouse_ingest")
        val t = graft.template.TemplateLoader.get(MetaQueries.TemplatesDir, "events")
        val table = graft.sink.SnapshotTable(wh, t.namespace, t.name)
        // the streaming file source needs an explicit schema: take the
        // PHYSICAL one from a batch read of the same file (ts has shipped
        // as both INT64 nanos and TIMESTAMP(MICROS) across testdata
        // generations; tbl() sets nanosAsLong for the former), then apply
        // the same ts normalization the batch reader does
        Queries.tbl(s, dir, "events") // ensures nanosAsLong conf is set
        val physical = s.read.parquet(s"$dir/events.parquet").schema
        val tsIsLong = physical("ts").dataType == LongType
        // the file source streams a DIRECTORY; testdata ships single
        // files, so stage a symlink under the scratch area (read-only
        // source data untouched)
        val srcDir = java.nio.file.Paths.get(wh, "src")
        java.nio.file.Files.createDirectories(srcDir)
        java.nio.file.Files.createSymbolicLink(
          srcDir.resolve("events.parquet"),
          java.nio.file.Paths.get(dir, "events.parquet"))
        val raw = s.readStream.schema(physical).parquet(srcDir.toString)
        val stream =
          if (tsIsLong) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw.withColumn("ts", col("ts").cast(TimestampType))
        val q = Streaming.startLakehouseIngest(stream, t, table, s"$wh/_checkpoint")
        q.awaitTermination()
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events""".stripMargin),
      doc = "streaming ingest into the lakehouse: readStream -> foreachBatch governed append"),

    "stream_lakehouse_tail" -> QueryDef(
      (s, dir) => {
        // REAL streaming CDC consumption OF the lakehouse (the other
        // half of stream_lakehouse_ingest; Iceberg's streaming read has
        // the same contract): a graft-stream source tails the snapshot
        // table with snapshot ids as offsets — batch 0 is the seeded
        // state, then each append commit arrives as its own O(delta)
        // microbatch (readIncremental dir-set difference; scan I/O per
        // trigger is the new dirs only, never the table).
        val ev = Queries.tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type")
        val cut1 = lit("2024-01-25 00:00:00").cast("timestamp")
        val cut2 = lit("2024-01-30 00:00:00").cast("timestamp")
        // seed commit builds once per session; appends land on the clone
        val wh = MetaQueries.warmCloneWarehouse("stream_lakehouse_tail", dir) { b =>
          graft.sink.SnapshotTable(b, "testdata", "events_tail")
            .overwrite(ev.filter(col("ts") < cut1)): Unit
        }
        val table = graft.sink.SnapshotTable(wh, "testdata", "events_tail")
        val q = s.readStream.format("graft-stream")
          .option("warehouse", wh).option("table", "testdata.events_tail").load()
          .writeStream.format("memory").queryName("lakehouse_tail_sink")
          .option("checkpointLocation", s"$wh/_ckpt").outputMode("append").start()
        try {
          q.processAllAvailable() // batch 0: the table's seeded state
          table.append(ev.filter(col("ts") >= cut1 && col("ts") < cut2))
          q.processAllAvailable() // batch 1: first delta only
          table.append(ev.filter(col("ts") >= cut2))
          q.processAllAvailable() // batch 2: second delta only
        } finally q.stop()
        s.table("lakehouse_tail_sink")
      },
      Some("SELECT event_id, ts, user_id, event_type FROM events"),
      doc = "streaming CDC tail of a snapshot table (graft-stream source): " +
        "snapshot ids as offsets, appends arrive as O(delta) microbatches"),

    "stream_branch_tail" -> QueryDef(
      (s, dir) => {
        // tail a BRANCH's append chain (graft-stream `branch` option):
        // an audit consumer sees staged branch appends as they land —
        // before any fast-forward — while rival PUBLISHED commits never
        // leak into the tail (offsets walk the ref's parent chain, not
        // the snapshot list). The published head stays at the seed
        // state throughout, pinned below.
        val ev = Queries.tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type")
        val cut1 = lit("2024-01-25 00:00:00").cast("timestamp")
        val cut2 = lit("2024-01-30 00:00:00").cast("timestamp")
        // seed commit + branch ref build once per session (refs.json is
        // part of the metadata clone); branch appends land on the clone
        val wh = MetaQueries.warmCloneWarehouse("stream_branch_tail", dir) { b =>
          val seed = graft.sink.SnapshotTable(b, "testdata", "events_branch")
          seed.overwrite(ev.filter(col("ts") < cut1)): Unit
          seed.createBranch("audit"): Unit
        }
        val table = graft.sink.SnapshotTable(wh, "testdata", "events_branch")
        val q = s.readStream.format("graft-stream")
          .option("warehouse", wh).option("table", "testdata.events_branch")
          .option("branch", "audit").load()
          .writeStream.format("memory").queryName("branch_tail_query_sink")
          .option("checkpointLocation", s"$wh/_ckpt").outputMode("append").start()
        try {
          q.processAllAvailable() // batch 0: branch state = seed
          table.appendToBranch("audit",
            ev.filter(col("ts") >= cut1 && col("ts") < cut2)): Unit
          // rival PUBLISHED append with real rows: if the tail walked
          // the snapshot list instead of the ref chain, these rows
          // would arrive twice and the oracle hash would catch it
          table.append(ev.filter(col("ts") >= cut2)): Unit
          q.processAllAvailable() // batch 1: branch delta only
          table.appendToBranch("audit", ev.filter(col("ts") >= cut2)): Unit
          q.processAllAvailable() // batch 2: second branch delta
        } finally q.stop()
        s.table("branch_tail_query_sink")
      },
      Some("SELECT event_id, ts, user_id, event_type FROM events"),
      doc = "streaming tail of a BRANCH (graft-stream branch option): staged " +
        "branch appends arrive as O(delta) microbatches; published rivals " +
        "never leak into the tail"),

    "stream_corpus_ingest_dedup" -> QueryDef(
      (s, dir) => {
        // dedup at the DOOR: two document microbatches flow through the
        // content-hash gate — batch 1 overlaps the seeded corpus, batch 2
        // overlaps batch 1 AND carries same-text clones under new ids
        // (the re-crawl shape). Clones lose to their originals inside the
        // batch, re-deliveries lose to the table — the corpus never needs
        // a retroactive dedup rewrite for ingest-time duplicates.
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        // bounded slice: the operator under test is the per-batch gate,
        // not shoveling the corpus through a driver-local MemoryStream;
        // seed commit + collected batches build once, clone per run
        def base = Queries.tbl(s, dir, "documents")
          .filter(col("doc_id") < 2000)
          .select("doc_id", "text", "lang", "source", "n_chars")
        val wh = MetaQueries.warmCloneWarehouse("stream_corpus_ingest_dedup", dir) { b =>
          graft.sink.SnapshotTable(b, "lakehouse", "documents")
            .overwrite(base.filter(col("doc_id") % 3 === 0)): Unit
          // the content-hash index seeds once with the corpus (the one
          // full pass); every batch then probes and appends O(batch)
          // hash rows — the corpus text is never re-hashed on ingest
        }
        val table = graft.sink.SnapshotTable(wh, "lakehouse", "documents")
        val hashIdx = graft.sink.SnapshotTable(wh, "lakehouse", "documents_content_idx")
        val (b1, b2) = MetaQueries.memoFixture[
            (Seq[(Long, String, String, String, Long)], Seq[(Long, String, String, String, Long)])](
            "stream_corpus_ingest_batches", dir) {
          val b2src = base.filter(col("doc_id") % 3 >= 1)
          (base.filter(col("doc_id") % 3 <= 1)
             .as[(Long, String, String, String, Long)].collect().toSeq,
           (b2src.as[(Long, String, String, String, Long)].collect() ++
             b2src.select(col("doc_id") + 200000L, col("text"), col("lang"),
                 col("source"), col("n_chars"))
               .as[(Long, String, String, String, Long)].collect()).toSeq)
        }
        val mem = MemoryStream[(Long, String, String, String, Long)]
        val q = Streaming.startDedupIngest(
          mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
          table, hashIdx, "text", s"$wh/_checkpoint", queryId = "corpus_ingest",
          // fixture-sized bloom (16 Kbit): the production default (2^23
          // bits) makes every per-partition partial 1 MiB, and at the
          // fixture's ~700 hashes the collect+merge of 32 such partials
          // IS the query's cost; semantics are identical (FPs only fall
          // through to the exact anti-join)
          bloomItems = 1L << 12, bloomBits = 1L << 14)
        try {
          mem.addData(b1)
          q.processAllAvailable()
          mem.addData(b2)
          q.processAllAvailable()
        } finally q.stop()
        table.read(s).select("doc_id", "lang", "source", "n_chars")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text, lang, source, n_chars FROM documents
             |  WHERE doc_id < 2000),
             |seed AS (SELECT * FROM base WHERE doc_id % 3 = 0),
             |sh AS (SELECT DISTINCT md5(text) AS h FROM seed),
             |b1 AS (SELECT * FROM base WHERE doc_id % 3 <= 1),
             |b1k AS (
             |  SELECT * FROM (SELECT *, row_number() OVER (
             |    PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM b1)
             |  WHERE rn = 1 AND md5(text) NOT IN (SELECT h FROM sh)),
             |h1 AS (SELECT h FROM sh UNION SELECT md5(text) FROM b1k),
             |b2 AS (SELECT * FROM base WHERE doc_id % 3 >= 1
             |  UNION ALL
             |  SELECT doc_id + 200000, text, lang, source, n_chars
             |  FROM base WHERE doc_id % 3 >= 1),
             |b2k AS (
             |  SELECT * FROM (SELECT *, row_number() OVER (
             |    PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM b2)
             |  WHERE rn = 1 AND md5(text) NOT IN (SELECT h FROM h1))
             |SELECT doc_id, lang, source, n_chars FROM seed
             |UNION ALL SELECT doc_id, lang, source, n_chars FROM b1k
             |UNION ALL SELECT doc_id, lang, source, n_chars FROM b2k""".stripMargin),
      doc = "dedup-gated streaming corpus ingest: per-batch content-hash gate " +
        "(within-batch min-id, anti-join vs the table) - re-crawled or " +
        "re-delivered docs never land twice, no retroactive rewrite"),

    "stream_cdc_updates" -> QueryDef(
      (s, dir) => {
        // Streaming CDC with UPDATE pairing: batch 0 tails the seeded
        // state as inserts; a merge-on-read UPDATE then commits ONE
        // snapshot whose delete+insert rows arrive as the next
        // microbatch and pair into update_preimage/update_postimage
        // (Delta CDF's streaming shape) — per-commit pairing needs no
        // cross-batch state because a changelog microbatch IS one
        // commit's rows.
        // bounded seed (cost here is streaming machinery + the MOR
        // commit, not rows — same discipline as stream_mor_upsert);
        // seed commit + properties build once, clone per run
        val wh = MetaQueries.warmCloneWarehouse("stream_cdc_updates", dir) { b =>
          val seed = graft.sink.SnapshotTable(b, "testdata", "events_cdc")
          seed.overwrite(Queries.tbl(s, dir, "events")
            .filter(col("event_id") % 4 === 0)
            .select("event_id", "user_id", "event_type", "value")): Unit // snap 1
          seed.setProperties(Map("write.update.mode" -> "merge-on-read"))
        }
        val table = graft.sink.SnapshotTable(wh, "testdata", "events_cdc")
        val out = s"$wh/_cdc_out"
        val q = Streaming.startCdcUpdates(s, wh, "testdata.events_cdc",
          keys = Seq("event_id"), outPath = out, checkpoint = s"$wh/_ckpt")
        try {
          q.processAllAvailable() // batch 0: the seeded state as inserts
          table.update(s, graft.sink.Rows.Where(col("event_type") === "purchase"),
            Map("value" -> (col("value") + lit(1000.0))), graft.sink.WriteMode.MergeOnRead): Unit
          q.processAllAvailable() // batch 1: the MOR commit -> update pairs
        } finally q.stop()
        s.read.parquet(out)
          .select("event_id", "event_type", "value", "_change_type")
      },
      Some("""SELECT event_id, event_type, value, 'insert' AS _change_type
             |FROM events WHERE event_id % 4 = 0
             |UNION ALL
             |SELECT event_id, event_type, value, 'update_preimage'
             |FROM events WHERE event_id % 4 = 0 AND event_type = 'purchase'
             |UNION ALL
             |SELECT event_id, event_type, value + 1000, 'update_postimage'
             |FROM events WHERE event_id % 4 = 0 AND event_type = 'purchase'""".stripMargin),
      doc = "streaming CDC tail with update pairing (Delta CDF streaming " +
        "shape): a merge-on-read UPDATE commit arrives as one microbatch and " +
        "pairs into pre/post images via the same core as the batch reader; " +
        "no cross-batch state"),

    "stream_scd2_merge" -> QueryDef(
      (s, dir) => {
        // REAL incremental streaming dimension maintenance: the dim is
        // seeded, then TWO CDC microbatches flow through foreachBatch ->
        // Scd2.merge -> snapshot overwrite-commit, each at its own
        // deterministic effective instant; batch 2 re-changes a subset
        // of batch 1's keys, so keys accrue a 3-version lineage only a
        // genuinely incremental merge produces. Oracle replays
        // merge(merge(dim, feed)@T1, feed2)@T2.
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        // seed dim commit + collected feeds build once per session;
        // the streaming merges commit onto the per-run clone
        val wh = MetaQueries.warmCloneWarehouse("stream_scd2_merge", dir) { b =>
          graft.sink.SnapshotTable(b, "lakehouse", "dim_customer_scd")
            .overwrite(PatternQueries.dim(s, dir)): Unit
        }
        val table = graft.sink.SnapshotTable(wh, "lakehouse", "dim_customer_scd")
        // the MemoryStream source is the harness stand-in for Kafka; its
        // staged contents are dimension-feed sized (bounded), never
        // fact-stream sized
        val (b1, b2) = MetaQueries.memoFixture[
            (Seq[(Long, String, String, Double)], Seq[(Long, String, String, Double)])](
            "stream_scd2_feeds", dir) {
          (PatternQueries.feed(s, dir)
             .as[(Long, String, String, Double)].collect().toSeq,
           PatternQueries.feed2(s, dir)
             .as[(Long, String, String, Double)].collect().toSeq)
        }
        val mem = MemoryStream[(Long, String, String, Double)]
        val q = Streaming.startScd2Merge(
          mem.toDF().toDF("natural_key", "name", "segment", "acctbal"),
          table, trackedCols = Seq("name", "segment", "acctbal"),
          effectiveAt = id => timestamp_millis(lit(
            if (id == 0L) PatternQueries.MergeAtMs else PatternQueries.MergeAt2Ms)),
          checkpoint = s"$wh/_checkpoint")
        try {
          mem.addData(b1)
          q.processAllAvailable()
          mem.addData(b2)
          q.processAllAvailable()
        } finally q.stop()
        table.read(s)
      },
      Some(s"WITH ${PatternQueries.Merged2ScdSql}\nSELECT * FROM merged2"),
      doc = "streaming SCD2 merge: CDC microbatches through foreachBatch into " +
        "the dimension snapshot table; invariants hold after every batch"),

    "stream_mor_upsert" -> QueryDef(
      (s, dir) => {
        // streaming CDC upsert via MERGE-ON-READ: two microbatches flow
        // through foreachBatch -> per-batch last-change-per-key dedup
        // (max_by, satisfies the MERGE cardinality rule) -> mergeOnce
        // (one atomic positional-delete + append commit per batch,
        // exactly-once watermark). Batch 1 carries an INTRA-batch
        // duplicate per updated key (ord 1 then ord 2 — the dedup must
        // pick ord 2) plus inserts; batch 2 re-updates a subset of
        // batch 1's keys, so the final state proves last-write-wins
        // ACROSS batches and dedup WITHIN one. No data file is ever
        // rewritten (pinned); compaction pays the debt off-stream.
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        // a bounded dimension slice: the operator under test is the
        // per-batch MOR merge machinery, not shoveling the full table
        // through the driver-local MemoryStream at every scale. The
        // seed commit and the collected CDC batches are the IMMUTABLE
        // fixture prelude — built once per session, cloned per run.
        def c = Queries.tbl(s, dir, "customer")
          .filter(col("c_custkey") <= 5000)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val wh = MetaQueries.warmCloneWarehouse("stream_mor_upsert", dir) { base =>
          graft.sink.SnapshotTable(base, "lakehouse", "customer_cdc").overwrite(c): Unit
        }
        val table = graft.sink.SnapshotTable(wh, "lakehouse", "customer_cdc")
        val origDirs = table.currentSnapshot.get.dataDirs
        val (b1, b2) = MetaQueries.memoFixture[
            (Seq[(Long, String, Double, Long)], Seq[(Long, String, Double, Long)])](
            "stream_mor_upsert_batches", dir) {
          val maxKey = c.agg(max(col("c_custkey"))).head.getLong(0)
          // the MemoryStream staging is dimension-feed sized (CDC
          // deltas), never fact-stream sized — as in stream_scd2_merge
          val upd = c.filter(col("c_custkey") % 7 === 0)
            .as[(Long, String, Double)].collect().toSeq
          (upd.map { case (k, n, b) => (k, n, b + 50.0, 1L) } ++
            upd.map { case (k, n, b) => (k, n, b + 100.0, 2L) } ++
            c.filter(col("c_custkey") % 7 === 3)
              .as[(Long, String, Double)].collect().toSeq
              .map { case (k, _, b) => (k + maxKey, "new", b, 1L) },
            upd.filter(_._1 % 14 == 0)
              .map { case (k, n, b) => (k, n, b + 200.0, 3L) })
        }
        val mem = MemoryStream[(Long, String, Double, Long)]
        val q = Streaming.startMorUpsert(
          mem.toDF().toDF("c_custkey", "c_name", "c_acctbal", "ord"),
          table, keys = Seq("c_custkey"), orderCol = "ord",
          checkpoint = s"$wh/_checkpoint", queryId = "mor_upsert")
        try {
          mem.addData(b1)
          q.processAllAvailable()
          mem.addData(b2)
          q.processAllAvailable()
        } finally q.stop()
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge" &&
          origDirs.forall(snap.dataDirs.contains) &&
          snap.deletes.exists(_.positional),
          "streaming MOR upsert must never rewrite a data file " +
            s"(op=${snap.operation})")
        table.read(s).select("c_custkey", "c_name", "c_acctbal")
      },
      Some("""WITH c AS (SELECT * FROM customer WHERE c_custkey <= 5000)
             |SELECT c_custkey, c_name,
             |  CASE WHEN c_custkey % 14 = 0 THEN c_acctbal + 200.0
             |       WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
             |       ELSE c_acctbal END AS c_acctbal
             |FROM c
             |UNION ALL
             |SELECT c_custkey + (SELECT max(c_custkey) FROM c),
             |  'new' AS c_name, c_acctbal
             |FROM c WHERE c_custkey % 7 = 3""".stripMargin),
      doc = "streaming CDC upsert via merge-on-read: per-batch max_by dedup + " +
        "mergeOnce (atomic positional-delete + append, exactly-once watermark); " +
        "last-write-wins across batches, no data file rewritten"),

    "stream_quality_gate" -> QueryDef(
      (s, dir) => {
        // streaming dead-letter quality enforcement: batch 1 (even ids)
        // is clean and lands in the main table; batch 2 (odd ids) has
        // user_id nulls, fails the missing_count gate, and is quarantined
        // WHOLE — the stream survives the poisoned delivery. Output tags
        // each row with the sink it reached.
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import graft.quality.Quality
        val wh = MetaQueries.freshWarehouse("stream_quality_gate")
        val t = graft.template.TemplateLoader.get(MetaQueries.TemplatesDir, "events")
        val table = graft.sink.SnapshotTable(wh, t.namespace, t.name)
        val quarantine = graft.sink.SnapshotTable(wh, t.namespace, "events_quarantine")
        // MemoryStream requires driver-local data, so the staged batches
        // are BOUNDED to a slice of the fact table: the bench then
        // measures the gate machinery, not serialization of the whole
        // corpus through the driver (the operator under test —
        // startGatedIngest — is a foreachBatch pipeline with no collects)
        val events = Queries.tbl(s, dir, "events").filter(col("event_id") < 2000)
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        val b1 = events.filter(col("event_id") % 2 === 0)
          .select(cols.map(col): _*)
          .as[(Long, java.sql.Timestamp, Option[Long], String, Double, String)]
          .collect().toSeq
        val b2 = events.filter(col("event_id") % 2 === 1)
          .withColumn("user_id",
            when(col("event_id") % 7 === 0, lit(null)).otherwise(col("user_id")))
          .select(cols.map(col): _*)
          .as[(Long, java.sql.Timestamp, Option[Long], String, Double, String)]
          .collect().toSeq
        val mem = MemoryStream[(Long, java.sql.Timestamp, Option[Long], String, Double, String)]
        val q = Streaming.startGatedIngest(
          mem.toDF().toDF(cols: _*), t, table, quarantine,
          checks = Seq(
            Quality.rowCount(),
            Quality.missingCount("user_id"),
            Quality.duplicateCount("event_id")),
          checkpoint = s"$wh/_checkpoint")
        try {
          mem.addData(b1)
          q.processAllAvailable()
          mem.addData(b2)
          q.processAllAvailable()
        } finally q.stop()
        table.read(s).select(cols.map(col): _*).withColumn("sink", lit("events"))
          .unionByName(
            quarantine.read(s).select(cols.map(col): _*).withColumn("sink", lit("quarantine")))
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props, 'events' AS sink
             |FROM events WHERE event_id < 2000 AND event_id % 2 = 0
             |UNION ALL
             |SELECT event_id, ts,
             |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS user_id,
             |  event_type, value, props, 'quarantine' AS sink
             |FROM events WHERE event_id < 2000 AND event_id % 2 = 1""".stripMargin),
      doc = "streaming quality gate with dead-letter quarantine: each microbatch is " +
        "gated before landing; failing batches quarantine whole, the stream survives"),

    "stream_quarantine_replay" -> QueryDef(
      (s, dir) => {
        // the OTHER half of the dead-letter pattern: after the producer
        // is fixed, the quarantined deliveries re-attempt the SAME gate
        // and land in the main table; the quarantine drains via a
        // metadata-only empty overwrite (history survives — the incident
        // audit trail stays time-travelable). A non-curing fix fails the
        // gate and mutates NOTHING (pinned below); a second replay is a
        // no-op.
        import s.implicits._
        import graft.quality.Quality
        val t = graft.template.TemplateLoader.get(MetaQueries.TemplatesDir, "events")
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        // the incident is the IMMUTABLE prelude: the clean batch landed,
        // the poisoned one was quarantined whole (same split the gated
        // stream produces) — committed once, cloned per run; the replay
        // under test then mutates only the clone
        val wh = MetaQueries.warmCloneWarehouse("stream_quarantine_replay", dir) { b =>
          val events = Queries.tbl(s, dir, "events").filter(col("event_id") < 2000)
          val clean = events.filter(col("event_id") % 2 === 0).select(cols.map(col): _*)
          val poisoned = events.filter(col("event_id") % 2 === 1)
            .withColumn("user_id",
              when(col("event_id") % 7 === 0, lit(null)).otherwise(col("user_id")))
            .select(cols.map(col): _*)
          graft.sink.TableSink.append(clean, t,
            graft.sink.SnapshotTable(b, t.namespace, t.name)): Unit
          graft.sink.TableSink.append(poisoned, t,
            graft.sink.SnapshotTable(b, t.namespace, "events_quarantine")): Unit
        }
        val table = graft.sink.SnapshotTable(wh, t.namespace, t.name)
        val quarantine = graft.sink.SnapshotTable(wh, t.namespace, "events_quarantine")
        val checks = Seq(Quality.rowCount(), Quality.missingCount("user_id"))
        // a replay whose fix does NOT cure still-null user_ids must fail
        // the gate and mutate neither table
        val (mainHead, qHead) =
          (table.currentSnapshot.get.id, quarantine.currentSnapshot.get.id)
        val failed = try {
          Streaming.replayQuarantine(s, t, table, quarantine, checks); false
        } catch { case _: Quality.QualityFailure => true }
        require(failed, "an uncured replay must fail the gate")
        require(table.currentSnapshot.get.id == mainHead &&
          quarantine.currentSnapshot.get.id == qHead,
          "a failed replay must mutate nothing")
        // the cure: backfill the missing ids deterministically
        val snap = Streaming.replayQuarantine(s, t, table, quarantine, checks,
          fix = df => df.withColumn("user_id",
            coalesce(col("user_id"), col("event_id") % 97)))
        require(snap.isDefined, "the cured replay must commit")
        require(quarantine.read(s).isEmpty, "the quarantine must drain")
        require(quarantine.snapshots.size > qHead,
          "the drain must be a new snapshot, not erased history")
        require(Streaming.replayQuarantine(s, t, table, quarantine, checks).isEmpty,
          "a second replay must be a no-op")
        table.read(s).select(cols.map(col): _*)
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events WHERE event_id < 2000 AND event_id % 2 = 0
             |UNION ALL
             |SELECT event_id, ts,
             |  CASE WHEN event_id % 7 = 0 THEN event_id % 97 ELSE user_id END AS user_id,
             |  event_type, value, props
             |FROM events WHERE event_id < 2000 AND event_id % 2 = 1""".stripMargin),
      doc = "dead-letter quarantine REPLAY: fixed deliveries re-attempt the same " +
        "gate and land in the main table; the quarantine drains metadata-only " +
        "(history kept); uncured replays fail atomically, repeats are no-ops, " +
        "concurrent quarantining batches survive the drain"),

    "mm_decode_features" -> QueryDef(
      (s, dir) => Multimodal.decodeFeatures(media(s, dir), batchSize = 128),
      Some("""WITH b AS (
             |  SELECT doc_id AS media_id,
             |    list_transform(range(0, 16),
             |      i -> CAST(CONCAT('0x', substr(md5(text), CAST(2 * i + 1 AS INT), 2)) AS INT)) AS bytes
             |  FROM documents)
             |SELECT media_id, 16 AS n_bytes,
             |  CAST(len(list_filter(bytes, x -> x // 64 = 0)) AS INT) AS bin0,
             |  CAST(len(list_filter(bytes, x -> x // 64 = 1)) AS INT) AS bin1,
             |  CAST(len(list_filter(bytes, x -> x // 64 = 2)) AS INT) AS bin2,
             |  CAST(len(list_filter(bytes, x -> x // 64 = 3)) AS INT) AS bin3,
             |  round(CAST(list_sum(bytes) AS DOUBLE) / 16, 6) AS mean_byte
             |FROM b""".stripMargin),
      doc = "batched binary decode (stub kernel): payload -> fixed-width features"),

    "mm_image_dedup_phash" -> QueryDef(
      (s, dir) => {
        // perceptual-hash image dedup over a deterministic fixture that
        // exercises EVERY path of the operator (the r15 fixture planted
        // only hamming-0 twins, leaving the band join spec-only). Roles
        // by media_id % 8:
        //   0       -> singleton (fully unique material)
        //   1,2,3   -> near-dup CHAIN: 2 perturbs two dHash-grid bytes
        //      of 1's head, 3 perturbs those two PLUS two more (same
        //      md5-derived values), so 1~2 and 2~3 each sit within the
        //      hamming threshold while 1~3 can exceed it — the keeper
        //      election must close transitively, not one-hop
        //   4,5     -> exact twins (hamming 0: the pre-band
        //      exact-group collapse path)
        //   6,7     -> far pair: 7 replaces a whole 16-byte block of
        //      6's head, so the pair still shares clean bands (a band
        //      join CANDIDATE) but lands far above the threshold — the
        //      hamming filter must reject it
        // Every byte is md5-derived, so the oracle rebuilds identical
        // payloads and replays band recall as ALL-PAIRS hamming <= 4
        // (banding has exact pigeonhole recall at the threshold, so
        // the two formulations agree exactly) plus a recursive-CTE
        // transitive closure. Pair members differ in trailing bytes
        // past the 73-byte grid (re-encodes: same "pixels", different
        // container bytes — an exact content hash would miss them).
        // See Multimodal.phashDedup for the stubbed-decoder contract.
        val d = tbl(s, dir, "documents")
          .filter(col("doc_id") < 400).select(col("doc_id").as("media_id"))
        val r = col("media_id") % 8
        val grp = when(r === 0, -col("media_id") - 1)
          .when(r.isin(1, 2, 3), col("media_id") - (r - 1))
          .when(r.isin(4, 5), col("media_id") - (r - 4))
          .otherwise(col("media_id") - (r - 6))
        val head = concat((0 until 5).map(j =>
          md5(concat(lit("ph:"), grp.cast("string"), lit(s":$j")))): _*)
        def pbyte(pos: Int): org.apache.spark.sql.Column =
          substring(md5(concat(lit("px:"), grp.cast("string"), lit(s":$pos"))), 1, 2)
        def patched(ps: Seq[Int]): org.apache.spark.sql.Column = ps.foldLeft(head) { (h, p) =>
          concat(substring(h, 1, 2 * p - 2), pbyte(p), substring(h, 2 * p + 1, 160))
        }
        val hxHead = when(r === 2, patched(Seq(17, 41)))
          .when(r === 3, patched(Seq(17, 41, 53, 67)))
          .when(r === 7, concat(substring(head, 1, 32),
            md5(concat(lit("pf:"), grp.cast("string"))), substring(head, 65, 160)))
          .otherwise(head)
        val hx = concat(hxHead,
          md5(concat(lit("pt:"), col("media_id").cast("string"))))
        val media = d.select(col("media_id"), unhex(hx).as("payload"))
        Multimodal.phashDedup(media, "media_id", "payload")
      },
      Some("""WITH RECURSIVE
             |d AS (SELECT doc_id AS media_id, doc_id % 8 AS r FROM documents WHERE doc_id < 400),
             |g AS (SELECT media_id, r,
             |    CASE WHEN r = 0 THEN -media_id - 1
             |         WHEN r IN (1, 2, 3) THEN media_id - (r - 1)
             |         WHEN r IN (4, 5) THEN media_id - (r - 4)
             |         ELSE media_id - (r - 6) END AS grp FROM d),
             |h0 AS (SELECT media_id, r, grp,
             |    md5('ph:' || grp || ':0') || md5('ph:' || grp || ':1') ||
             |    md5('ph:' || grp || ':2') || md5('ph:' || grp || ':3') ||
             |    md5('ph:' || grp || ':4') AS head FROM g),
             |p AS (SELECT media_id, string_agg(
             |    CASE WHEN (r = 2 AND i IN (17, 41)) OR (r = 3 AND i IN (17, 41, 53, 67))
             |           THEN substr(md5('px:' || grp || ':' || i), 1, 2)
             |         WHEN r = 7 AND i BETWEEN 17 AND 32
             |           THEN substr(md5('pf:' || grp), 2 * (i - 17) + 1, 2)
             |         ELSE substr(head, 2 * i - 1, 2) END, '' ORDER BY i) AS hx
             |  FROM h0, unnest(range(1, 81)) AS u(i) GROUP BY media_id),
             |ph AS (SELECT media_id,
             |    string_agg(CASE WHEN CAST(CONCAT('0x', substr(hx, 2*i+1, 2)) AS INT)
             |                       > CAST(CONCAT('0x', substr(hx, 2*i-1, 2)) AS INT)
             |               THEN '1' ELSE '0' END, '' ORDER BY i) AS phash
             |  FROM p, unnest(range(1, 73)) AS u(i)
             |  GROUP BY media_id),
             |pairs AS (SELECT a.media_id AS pa, b.media_id AS pb
             |  FROM ph a JOIN ph b ON a.media_id < b.media_id
             |  WHERE len(list_filter(range(1, 73),
             |    i -> substr(a.phash, CAST(i AS INT), 1) <> substr(b.phash, CAST(i AS INT), 1))) <= 4),
             |e AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs),
             |reach(a, b) AS (
             |  SELECT media_id, media_id FROM ph
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
             |SELECT ph.media_id, ph.phash, cc.keeper_id,
             |  cc.keeper_id <> ph.media_id AS is_dup
             |FROM ph JOIN (SELECT a AS media_id, min(b) AS keeper_id
             |              FROM reach GROUP BY a) cc USING (media_id)""".stripMargin),
      doc = "perceptual-hash (dHash) image dedup: gradient-sign bitstring " +
        "over the decoded grid (decoder stubbed deterministically — no " +
        "codecs in this container), banded candidate join with the " +
        "smallest divisor-of-72 band count strictly above the hamming " +
        "threshold (6x12 at the default h<=4 — exact pigeonhole recall), " +
        "hamming filter, transitive keeper election — catches re-encodes " +
        "an exact content hash misses; the fixture plants exact twins, " +
        "near-dup chains, and over-threshold band candidates"),

    "mm_image_header" -> QueryDef(
      (s, dir) => Multimodal.imageHeaders(imageMedia(s, dir)),
      Some(s"""WITH $MetaSql,
              |p AS (
              |  SELECT m.media_id,
              |    CASE m.media_id % 3
              |      WHEN 0 THEN CONCAT('$PngPrefixHex',
              |        lpad(to_hex(m.width), 8, '0'), lpad(to_hex(m.height), 8, '0'),
              |        '$PngSuffixHex')
              |      WHEN 1 THEN CONCAT('$JpegPrefixHex',
              |        lpad(to_hex(m.height), 4, '0'), lpad(to_hex(m.width), 4, '0'),
              |        '$JpegSuffixHex')
              |      ELSE CONCAT('00', upper(md5(d.text)))
              |    END AS hx
              |  FROM m JOIN documents d ON m.media_id = d.doc_id),
              |f AS (
              |  SELECT media_id, hx,
              |    CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A' THEN 'png'
              |         WHEN substr(hx, 1, 4) = 'FFD8' THEN 'jpeg'
              |         ELSE 'unknown' END AS format,
              |    -- jpeg: the first segment after SOI starts at byte 2; its
              |    -- OWN big-endian length field (bytes 4-5) gives the next
              |    -- segment's byte offset: 2 + 2 + len (the SOF here)
              |    4 + CAST(CONCAT('0x', substr(hx, 9, 4)) AS INT) AS sof
              |  FROM p)
              |SELECT media_id, format,
              |  CAST(len(hx) // 2 AS INT) AS n_bytes,
              |  CASE format
              |    WHEN 'png' THEN CAST(CONCAT('0x', substr(hx, 33, 8)) AS INT)
              |    WHEN 'jpeg' THEN CAST(CONCAT('0x', substr(hx, 2 * (sof + 7) + 1, 4)) AS INT)
              |  END AS width,
              |  CASE format
              |    WHEN 'png' THEN CAST(CONCAT('0x', substr(hx, 41, 8)) AS INT)
              |    WHEN 'jpeg' THEN CAST(CONCAT('0x', substr(hx, 2 * (sof + 5) + 1, 4)) AS INT)
              |  END AS height
              |FROM f""".stripMargin),
      doc = "REAL container-header decode: PNG IHDR / JPEG SOF dimensions " +
        "parsed from the payload bytes by the batched kernel; oracle " +
        "re-parses the same bytes in hex form, following the actual " +
        "segment-length fields"),

    "mm_audio_meta" -> QueryDef(
      (s, dir) => Multimodal.audioMeta(audioMedia(s, dir)),
      Some("""WITH params AS (
             |  SELECT doc_id AS media_id, text,
             |    CAST(1 + doc_id % 2 AS INT) AS c,
             |    CAST(8000 + (n_chars % 5) * 1600 AS INT) AS rate,
             |    CAST(2 * (1 + doc_id % 2) AS INT) AS block,
             |    CAST(50 + n_chars % 100 AS INT) AS nframes
             |  FROM documents),
             |h8 AS (
             |  SELECT *, CAST(nframes * block AS INT) AS datasize,
             |    CAST(rate * block AS INT) AS byterate,
             |    CAST(4 + CASE WHEN media_id % 3 = 1 THEN 12 ELSE 0 END + 32
             |      + nframes * block AS INT) AS riffsize
             |  FROM params),
             |hx2 AS (
             |  SELECT *, lpad(to_hex(riffsize), 8, '0') AS rs_h,
             |    lpad(to_hex(rate), 8, '0') AS rate_h,
             |    lpad(to_hex(byterate), 8, '0') AS br_h,
             |    lpad(to_hex(datasize), 8, '0') AS ds_h,
             |    lpad(to_hex(c), 4, '0') AS c_h,
             |    lpad(to_hex(block), 4, '0') AS bl_h
             |  FROM h8),
             |b AS (
             |  SELECT media_id, CASE WHEN media_id % 3 = 2
             |    THEN CONCAT('00', md5(text))
             |    ELSE CONCAT('52494646',
             |      substr(rs_h,7,2) || substr(rs_h,5,2) || substr(rs_h,3,2) || substr(rs_h,1,2),
             |      '57415645',
             |      CASE WHEN media_id % 3 = 1 THEN '4C49535404000000494E464F' ELSE '' END,
             |      '666D7420100000000100',
             |      substr(c_h,3,2) || substr(c_h,1,2),
             |      substr(rate_h,7,2) || substr(rate_h,5,2) || substr(rate_h,3,2) || substr(rate_h,1,2),
             |      substr(br_h,7,2) || substr(br_h,5,2) || substr(br_h,3,2) || substr(br_h,1,2),
             |      substr(bl_h,3,2) || substr(bl_h,1,2), '1000',
             |      '64617461',
             |      substr(ds_h,7,2) || substr(ds_h,5,2) || substr(ds_h,3,2) || substr(ds_h,1,2))
             |    END AS hx
             |  FROM hx2),
             |-- parse back FROM THE BYTES: detect RIFF/WAVE, hop over chunk 1
             |-- by its own little-endian size field to find the fmt payload
             |f AS (
             |  SELECT media_id, hx,
             |    CASE WHEN substr(hx,1,8) = '52494646' AND substr(hx,17,8) = '57415645'
             |      THEN 'wav' ELSE 'unknown' END AS format,
             |    CASE WHEN substr(hx,25,8) = '666D7420' THEN 20
             |      ELSE 20 + CAST(CONCAT('0x', substr(hx,39,2), substr(hx,37,2),
             |        substr(hx,35,2), substr(hx,33,2)) AS INT) + 8 END AS fp
             |  FROM b)
             |SELECT media_id, format,
             |  CAST(len(hx) // 2 AS INT) AS n_bytes,
             |  CASE WHEN format = 'wav' THEN CAST(CONCAT('0x',
             |    substr(hx, 2*(fp+2)+3, 2), substr(hx, 2*(fp+2)+1, 2)) AS INT) END AS channels,
             |  CASE WHEN format = 'wav' THEN CAST(CONCAT('0x',
             |    substr(hx, 2*(fp+4)+7, 2), substr(hx, 2*(fp+4)+5, 2),
             |    substr(hx, 2*(fp+4)+3, 2), substr(hx, 2*(fp+4)+1, 2)) AS INT) END AS sample_rate,
             |  CASE WHEN format = 'wav' THEN CAST(CONCAT('0x',
             |    substr(hx, 2*(fp+14)+3, 2), substr(hx, 2*(fp+14)+1, 2)) AS INT) END AS bits_per_sample,
             |  CASE WHEN format = 'wav' THEN CAST(CAST(CONCAT('0x',
             |    substr(hx, 2*(fp+20)+7, 2), substr(hx, 2*(fp+20)+5, 2),
             |    substr(hx, 2*(fp+20)+3, 2), substr(hx, 2*(fp+20)+1, 2)) AS BIGINT)
             |    // CAST(CONCAT('0x', substr(hx, 2*(fp+12)+3, 2), substr(hx, 2*(fp+12)+1, 2)) AS BIGINT)
             |    AS BIGINT) END AS n_frames
             |FROM f""".stripMargin),
      doc = "REAL RIFF/WAVE header decode (little-endian): chunk walk over an " +
        "optional LIST chunk to fmt + data declarations; header-only payloads " +
        "(no sample bytes) parse fine - the ranged-read production shape"),

    "mm_video_meta" -> QueryDef(
      (s, dir) => Multimodal.videoMeta(videoMedia(s, dir)),
      Some("""WITH p AS (
             |  SELECT doc_id AS media_id,
             |    CAST(600 + (n_chars % 5) * 300 AS INT) AS ts,
             |    CAST(n_chars * 3 AS INT) AS dur, text
             |  FROM documents),
             |b AS (
             |  SELECT media_id, CASE media_id % 3
             |    WHEN 2 THEN CONCAT('00', md5(text))
             |    WHEN 0 THEN CONCAT('000000106674797069736F6D00000200',
             |      '000000246D6F6F76',
             |      '0000001C6D766864000000000000000000000000',
             |      lpad(to_hex(ts), 8, '0'), lpad(to_hex(dur), 8, '0'))
             |    ELSE CONCAT('00000010667479706D70343200000200',
             |      '0000000C6672656500000000',
             |      '000000306D6F6F760000000C696F647300000000',
             |      '0000001C6D766864000000000000000000000000',
             |      lpad(to_hex(ts), 8, '0'), lpad(to_hex(dur), 8, '0'))
             |    END AS hx
             |  FROM p),
             |-- parse from the bytes: ftyp magic, brand ASCII, then hop boxes
             |-- by their OWN big-endian sizes to moov, then its children to mvhd
             |f AS (
             |  SELECT media_id, hx,
             |    CASE WHEN substr(hx, 9, 8) = '66747970' THEN 'mp4' ELSE 'unknown' END AS format,
             |    TRY_CAST(CONCAT('0x', substr(hx, 1, 8)) AS INT) AS s1
             |  FROM b),
             |g AS (
             |  SELECT *, CASE WHEN substr(hx, 2 * (s1 + 4) + 1, 8) = '66726565'
             |    THEN s1 + TRY_CAST(CONCAT('0x', substr(hx, 2 * s1 + 1, 8)) AS INT)
             |    ELSE s1 END AS moov
             |  FROM f),
             |h AS (
             |  SELECT *, CASE WHEN substr(hx, 2 * (moov + 12) + 1, 8) = '6D766864'
             |    THEN moov + 8
             |    ELSE moov + 8 + TRY_CAST(CONCAT('0x', substr(hx, 2 * (moov + 8) + 1, 8)) AS INT)
             |    END AS mvhd
             |  FROM g)
             |SELECT media_id, format,
             |  CAST(len(hx) // 2 AS INT) AS n_bytes,
             |  CASE WHEN format = 'mp4' THEN
             |    chr(CAST(CONCAT('0x', substr(hx, 17, 2)) AS INT)) ||
             |    chr(CAST(CONCAT('0x', substr(hx, 19, 2)) AS INT)) ||
             |    chr(CAST(CONCAT('0x', substr(hx, 21, 2)) AS INT)) ||
             |    chr(CAST(CONCAT('0x', substr(hx, 23, 2)) AS INT)) END AS brand,
             |  CASE WHEN format = 'mp4'
             |    THEN CAST(CONCAT('0x', substr(hx, 2 * (mvhd + 20) + 1, 8)) AS INT) END AS timescale,
             |  CASE WHEN format = 'mp4'
             |    THEN CAST(CONCAT('0x', substr(hx, 2 * (mvhd + 24) + 1, 8)) AS BIGINT) * 1000
             |      // CAST(CONCAT('0x', substr(hx, 2 * (mvhd + 20) + 1, 8)) AS BIGINT)
             |    END AS duration_ms
             |FROM h""".stripMargin),
      doc = "REAL MP4/ISO-BMFF header decode: ftyp brand + box walk to " +
        "moov -> mvhd timescale/duration, hopping boxes by their own " +
        "big-endian size fields; completes the image/audio/video triad"),

    "mm_resize_meta" -> QueryDef(
      (s, dir) => Multimodal.resizePlan(media(s, dir), maxSide = 224),
      Some(s"""WITH $MetaSql
              |SELECT media_id, width, height,
              |  CAST(CASE WHEN width >= height THEN least(width, 224)
              |    ELSE floor(width * 1.0 * least(height, 224) / greatest(height, 1)) END AS INT) AS target_w,
              |  CAST(CASE WHEN height > width THEN least(height, 224)
              |    ELSE floor(height * 1.0 * least(width, 224) / greatest(width, 1)) END AS INT) AS target_h
              |FROM m""".stripMargin),
      doc = "metadata-only resize planning; binary column pruned at scan"),

    "mm_frame_sample" -> QueryDef(
      (s, dir) => Multimodal.frameSample(media(s, dir), stride = 3, maxFrames = 10),
      Some(s"""WITH $MetaSql
              |SELECT media_id, CAST(unnest((range(0, n_frames, 3))[1:10]) AS INT) AS frame_idx
              |FROM m WHERE n_frames > 0""".stripMargin),
      doc = "uniform frame sampling via generator over metadata")
  )
}
