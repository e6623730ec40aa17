package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming ingestion for the event_stream pattern — the
  * idiomatic upgrade of the reference's batch-append "event stream"
  * (SURVEY.md §1.4, §2.11): `readStream` -> watermark -> windowed
  * aggregation / stateful per-key tracking -> `writeStream`.
  *
  * Every transform here is SHARED with the batch surface: the same
  * function builds the same logical plan over a static DataFrame (the
  * driver-verified `stream_window_agg` query) and over a streaming one —
  * which is exactly Structured Streaming's contract (incremental
  * execution of the same plan).
  *
  * Scale notes: the windowed count is a streaming partial aggregation
  * with state keyed by (window, event_type) — state size is bounded by
  * the watermark horizon, not the stream length. The stateful session
  * op keys by user_id; state is per-key constant-width.
  */
object Streaming {

  /** Tumbling-window per-type counts. `watermarkDelay = None` for batch. */
  def windowedCounts(events: DataFrame, watermarkDelay: Option[String] = None): DataFrame = {
    val src = watermarkDelay.fold(events)(d => events.withWatermark("ts", d))
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
  }

  /** File-source streaming read with a declared schema (no inference
    * pass), the streaming analogue of SourceReader.
    */
  def readEventStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Start the ingest query: watermarked windowed counts appended to a
    * parquet sink once their window is sealed by the watermark.
    */
  def startIngest(events: DataFrame, sinkPath: String, checkpoint: String) =
    windowedCounts(events, Some("1 hour"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", sinkPath)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Streaming exact dedup on an id column — the ingest guard in front
    * of an append-only sink (`event_append`'s anti-join, as a stream).
    * With a watermark, state holds only ids within the horizon
    * (`dropDuplicatesWithinWatermark`): bounded state at any stream
    * length. Batch form (`watermarkDelay = None`) is a plain
    * dropDuplicates — deterministic when duplicate rows are identical,
    * as re-delivered events are.
    */
  def dedupEvents(
      events: DataFrame, idCol: String, tsCol: String = "ts",
      watermarkDelay: Option[String] = None): DataFrame =
    watermarkDelay match {
      case Some(d) =>
        events.withWatermark(tsCol, d).dropDuplicatesWithinWatermark(idCol)
      case None => events.dropDuplicates(idCol)
    }

  /** Stream-stream INTERVAL join (click -> purchase attribution): each
    * purchase matched to the same user's clicks in the preceding hour.
    * With watermarks on BOTH sides plus the event-time bound in the
    * condition, Structured Streaming can expire join state — the
    * bounded-state form of a streaming join. Inputs are pre-shaped
    * (c_user, click_ts, click_id) / (p_user, purchase_ts, purchase_id)
    * so the same plan serves batch and stream.
    */
  def intervalJoin(
      clicks: DataFrame, purchases: DataFrame,
      watermarkDelay: Option[String] = None): DataFrame = {
    val c = watermarkDelay.fold(clicks)(d => clicks.withWatermark("click_ts", d))
    val p = watermarkDelay.fold(purchases)(d => purchases.withWatermark("purchase_ts", d))
    p.join(c,
        col("p_user") === col("c_user") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
  }

  /** Streaming ingest INTO the lakehouse: each microbatch goes through
    * the full governed sink (schema check, partition derivation,
    * declared sort, audit, O(delta) append commit) via foreachBatch —
    * the streaming realization of the reference's event_stream append
    * pattern. AvailableNow: drains everything currently readable, then
    * stops (replayable, checkpoint-resumable).
    */
  def startLakehouseIngest(
      stream: DataFrame,
      template: graft.template.TableTemplate,
      table: graft.sink.SnapshotTable,
      checkpoint: String) =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sink.TableSink.append(batch.toDF(), template, table, micro = true)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming CDC tail with UPDATE pairing (`stream_cdc_updates`):
    * the graft-stream changelog source delivers each commit's
    * delete+insert rows as its own microbatch; foreachBatch applies
    * the SAME pairing core the batch reader uses
    * ([[graft.sink.SnapshotTable.pairChangelogUpdates]]), so a
    * merge-on-read UPDATE commit arrives downstream as
    * update_preimage/update_postimage pairs — Delta CDF's streaming
    * shape. Pairing needs only the rows of ONE commit at a time, which
    * is exactly what a changelog microbatch is — no cross-batch state.
    *
    * Idempotent under foreachBatch's at-least-once delivery: each batch
    * lands in its OWN `batch=<id>` directory with overwrite, so a
    * replayed microbatch (crash between the write and the checkpoint
    * advance) overwrites its previous output instead of duplicating
    * CDC rows — the same batchId discipline as the exactly-once sinks.
    */
  def startCdcUpdates(
      spark: SparkSession,
      warehouse: String,
      table: String,
      keys: Seq[String],
      outPath: String,
      checkpoint: String) =
    spark.readStream.format("graft-stream")
      .option("warehouse", warehouse).option("table", table)
      .option("changelog", "true").load()
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.sink.SnapshotTable.pairChangelogUpdates(batch.toDF(), keys)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Exactly-once lakehouse ingest (`stream_exactly_once_ingest`):
    * [[startLakehouseIngest]] hardened against foreachBatch's
    * at-least-once delivery — each microbatch commits through
    * [[graft.sink.TableSink.appendOnce]], which stamps the
    * (queryId, batchId) watermark into the snapshot summary atomically
    * with the data. A batch re-delivered after a crash between the
    * commit and the checkpoint advance is recognized by its id and
    * skipped, so restarts never double-append (Iceberg's streaming
    * sink keeps the same watermark in its snapshot summaries).
    */
  def startExactlyOnceIngest(
      stream: DataFrame,
      template: graft.template.TableTemplate,
      table: graft.sink.SnapshotTable,
      checkpoint: String,
      queryId: String) =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.sink.TableSink.appendOnce(batch.toDF(), template, table, queryId, batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Dedup-gated corpus ingest (`stream_corpus_ingest_dedup`): each
    * microbatch admits only CONTENT-novel documents — first the batch
    * dedups against itself (min doc_id per content hash, so a clone and
    * its original arriving together keep the original), then a BLOOM
    * probe against the index's sidecar filter splits the batch map-side:
    * rows the bloom rules out are novel WITHOUT touching the index (no
    * false negatives), only potential hits anti-join the exact hash
    * index. Idempotent corpus ingestion: re-sent or re-crawled
    * documents never append twice, and dedup happens at the door instead
    * of as a retroactive rewrite pass.
    *
    * Scale: steady-state batches are mostly novel, so the common case
    * plans NO index join at all (spec-pinned) — the r17 shape anti-joined
    * the FULL hash index every microbatch, an O(index) scan+shuffle per
    * batch. The bloom is CUMULATIVE over the index and persists as a
    * per-commit sidecar (`_blooms/<snapshotId>.bloom`, ~bits/8 bytes):
    * a restart loads the head sidecar instead of re-scanning the index,
    * and a head moved by another committer folds in exactly the delta
    * (`readIncremental`, O(delta)). False positives only cost the exact
    * anti-join fall-through; `bloomBits` sizes the filter (default 2^23
    * bits = 1 MiB ≈ 1% FP at ~10^6 hashes — production sizes it to the
    * corpus, or ships it as a broadcast variable past ~100 MB). The
    * corpus text is hashed once per document EVER — at seed/catch-up
    * time or when its batch arrives — never per batch.
    *
    * Gate contract: the index is the gate's source of truth. At stream
    * START the gate reconciles it with the table (seeds it if absent;
    * otherwise folds in hashes of any rows appended OUT-OF-BAND while
    * no stream was running — one hash-and-anti-join pass of the table,
    * the price the old per-batch re-hash paid on EVERY batch). A writer
    * that bypasses the gate MID-stream must append the matching index
    * rows itself, the standard contract of any secondary index.
    *
    * `queryId` must be UNIQUE PER CHECKPOINT LINEAGE (the same rule as
    * Delta's streaming `txnAppId`): exactly-once keys on (queryId,
    * Spark's per-checkpoint batchId), so re-using a queryId against the
    * same tables with a NEW or reset checkpoint restarts batchId at 0
    * and the monotonic appendOnce watermark would silently drop those
    * batches' novel rows. The gate therefore records its checkpoint
    * path against the queryId in the index table's properties at START
    * and FAILS LOUDLY if a later start re-binds the queryId to a
    * different checkpoint — re-pointing a stream at a fresh checkpoint
    * requires a fresh queryId (or clearing the recorded binding).
    */
  def startDedupIngest(
      stream: DataFrame,
      table: graft.sink.SnapshotTable,
      hashIndex: graft.sink.SnapshotTable,
      textCol: String,
      checkpoint: String,
      queryId: String,
      idCol: String = "doc_id",
      bloomItems: Long = 1L << 20,
      bloomBits: Long = 1L << 23) = {
    // fail at call time, not inside the first microbatch
    Seq(idCol, textCol).foreach(c => require(stream.columns.contains(c),
      s"dedup ingest needs column $c (stream has: ${stream.columns.mkString(", ")})"))
    // null content still dedups — every null-text row shares one sentinel
    // key (a plain md5(null) is null, and null join keys never match, so
    // null-text re-deliveries would append FOREVER); the txt: prefix keeps
    // real hashes disjoint from the sentinel
    def contentKey(c: org.apache.spark.sql.Column) =
      when(c.isNull, lit("null:")).otherwise(concat(lit("txt:"), md5(c)))
    // The gate probes a PERSISTED content-hash index, not the corpus:
    // the previous shape re-read and re-hashed the WHOLE table text
    // every microbatch — O(corpus) per batch, the scan that dominates
    // everything at the 100 TB target. The index is hash-only rows
    // (orders of magnitude narrower than the corpus), seeded from the
    // table once at stream start if absent, and grows by one O(batch)
    // append per batch. The index itself is probed through its BLOOM
    // SIDECAR first (see IngestBloomState): a batch with zero bloom
    // hits never plans the index join at all.
    //
    // Exactly-once across TWO tables under foreachBatch's
    // at-least-once delivery: both appends are appendOnce commits
    // keyed (queryId, batchId), and index rows carry their (q, b) so a
    // re-delivered batch EXCLUDES its own (possibly already landed)
    // index append when re-deriving the novel set. All four crash
    // interleavings converge: neither landed → both commit; corpus
    // landed → same novel set (index unchanged), corpus skips on its
    // watermark, index commits; index landed → the exclusion restores
    // the same novel set, corpus commits, index skips; both landed →
    // both skip.
    locally {
      val spark = stream.sparkSession
      if (hashIndex.currentSnapshot.isEmpty) {
        hashIndex.overwrite(table.read(spark)
          .select(contentKey(col(textCol)).as("_h")).distinct()
          .withColumn("_q", lit("seed")).withColumn("_b", lit(-1L))): Unit
      } else {
        // START-time reconciliation: rows appended to the table while no
        // stream was running (backfills, DML, rival writers) are not in
        // the index yet — fold their hashes in, or the gate would
        // re-admit those texts as novel. One table hash + anti-join pass
        // per stream START (the old shape paid it per BATCH); no commit
        // when the index is already complete.
        val missing = table.read(spark)
          .select(contentKey(col(textCol)).as("_h")).distinct()
          .join(hashIndex.read(spark).select(col("_h")), Seq("_h"), "left_anti")
          .withColumn("_q", lit("catchup")).withColumn("_b", lit(-1L))
        if (!missing.isEmpty) hashIndex.append(missing): Unit
      }
      // (queryId -> checkpoint) binding: batchId is per-checkpoint, so a
      // queryId re-bound to a different checkpoint would replay batch
      // ids 0..n against an already-advanced watermark and appendOnce
      // would silently drop novel rows. First start records the binding
      // (after the seed/catchup commit above, so the index root exists);
      // every later start verifies it.
      val bindKey = s"dedup-ingest.checkpoint.$queryId"
      // compare NORMALIZED paths: a path-equivalent but textually
      // different restart (trailing slash, relative vs absolute) is the
      // same lineage, not a rebind
      def norm(p: String): String =
        try java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
        catch { case _: java.nio.file.InvalidPathException => p }
      hashIndex.properties.get(bindKey) match {
        case None => hashIndex.setProperties(Map(bindKey -> norm(checkpoint)))
        case Some(prev) => require(norm(prev) == norm(checkpoint),
          s"queryId '$queryId' is bound to checkpoint lineage '$prev' but " +
            s"this start supplies '$checkpoint' — batch ids would restart at 0 " +
            "and the exactly-once watermark would silently drop their novel " +
            "rows; use a fresh queryId for a fresh checkpoint (or clear the " +
            s"'$bindKey' property after deliberately resetting the lineage)")
      }
    }
    val bloomState = new IngestBloomState(hashIndex, bloomItems, bloomBits)
    // pay the first bloom load/build at START (one sidecar read after a
    // restart; one index pass only when no sidecar survives), not inside
    // the first microbatch's trigger
    bloomState.sync(stream.sparkSession)
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // a head moved since the last batch (out-of-band committer) folds
        // in as an O(delta) increment; steady state is a no-op
        bloomState.sync(spark)
        // scale-adaptive gate parallelism (guide §2): AQE is disabled
        // inside streaming microbatches, so every per-batch shuffle
        // otherwise runs at the session's spark.sql.shuffle.partitions
        // — the setting sized for the 100 TB steady state — no matter
        // how small the batch. At 32 partitions a ~2k-row batch pays
        // 32 tasks of pure scheduler overhead per gate stage (window,
        // split aggregate, anti-join, two commit writes — measured
        // 32c SLOWER than 8c on this key). Derive the gate width from
        // the batch's optimizer size estimate (exact for buffered
        // sources) against a per-partition byte target, clamped to the
        // session setting so a genuinely large batch keeps full width;
        // the window and every downstream _h-keyed stage reuse this
        // one exchange, and each commit writes gateParts files instead
        // of shuffle.partitions near-empty ones (§6).
        val targetBytes = spark.conf
          .getOption("spark.graft.stream.gate.targetPartitionBytes")
          .map(_.toLong).getOrElse(32L << 20)
        val gateParts = math.max(1, math.min(
          spark.sessionState.conf.numShufflePartitions,
          ((batch.queryExecution.optimizedPlan.stats.sizeInBytes +
            (targetBytes - 1)) / targetBytes).toInt))
        val withHash = batch.toDF()
          .withColumn("_h", contentKey(col(textCol)))
          .repartition(gateParts, col("_h"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_h")).orderBy(col(idCol).asc)
        val firstPerHash = withHash
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
        // the exact index probe — CONSTRUCTED ONLY when the bloom flags
        // potential hits (by-name into bloomGatedNovel): excludes this
        // batch's own (q, b) rows so a re-delivered batch re-derives the
        // same novel set it committed before the crash
        def known = hashIndex.read(spark)
          .filter(!(col("_q") === queryId && col("_b") === batchId))
          .select(col("_h"))
        val (novelRaw, knownNonEmpty, release) =
          bloomGatedNovel(firstPerHash, known, bloomState.bloom)
        // persisted: the two appends below would otherwise each run the
        // whole gate (window + bloom split + join)
        val novel = novelRaw.persist()
        // no empty commits: an all-duplicate batch leaves no snapshot.
        // The split's aggregate already settled emptiness except in the
        // every-row-flagged shape (knownNonEmpty = None — probe the join)
        try {
          if (knownNonEmpty.getOrElse(!novel.isEmpty)) {
            table.appendOnce(queryId, batchId, novel.drop("_h")): Unit
            hashIndex.appendOnce(queryId, batchId, novel.select(col("_h"),
              lit(queryId).as("_q"), lit(batchId).as("_b")))
              // fold the committed hashes (cheaper than re-reading the
              // delta) and persist the new head's cumulative sidecar; a
              // watermark-skipped re-delivery changes nothing — sync
              // already covered those rows
              .foreach(snap => bloomState.committed(novel.select(col("_h")), snap))
          }
        } finally { novel.unpersist(): Unit; release() }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** The bloom split of the ingest gate: rows of `firstPerHash` whose
    * `_h` the bloom rules out are novel WITHOUT the index (bloom filters
    * have no false negatives); only flagged rows anti-join the exact
    * index. `known` is BY-NAME: a batch with zero bloom hits never
    * constructs the index read, so its plan contains no join at all
    * (spec-pinned); bloom false positives fall through to the anti-join
    * and cost only that work.
    *
    * Returns (novel, knownNonEmpty, release): ONE aggregate job over the
    * cached split decides the batch shape — zero hits ⇒ novel = the
    * whole batch; some row unflagged ⇒ novel provably non-empty with NO
    * emptiness probe; only an every-row-flagged batch (the all-duplicate
    * re-delivery shape) leaves `knownNonEmpty = None` and the caller
    * probes the join result. Call `release` after consuming novel.
    */
  private[streaming] def bloomGatedNovel(
      firstPerHash: DataFrame, known: => DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter)
      : (DataFrame, Option[Boolean], () => Unit) = {
    val flagged = firstPerHash.withColumn("_maybe",
      graft.functions.BloomMightContain.bloomMightContain(col("_h"), bloom))
      .persist()
    val counts = flagged.agg(count(lit(1)),
      count(when(col("_maybe"), 1))).head()
    val (nRows, nMaybe) = (counts.getLong(0), counts.getLong(1))
    val (novel, nonEmpty) =
      if (nMaybe == 0) (flagged.drop("_maybe"), Some(nRows > 0))
      else (
        flagged.filter(!col("_maybe")).drop("_maybe")
          .unionByName(flagged.filter(col("_maybe")).drop("_maybe")
            .join(known, Seq("_h"), "left_anti")),
        // an unflagged row survives any join outcome; all-flagged is the
        // one shape whose emptiness only the join can decide
        if (nMaybe < nRows) Some(true) else None)
    (novel, nonEmpty, () => { flagged.unpersist(): Unit })
  }

  /** Per-partition bloom build over a single-string-column frame, merged
    * EXECUTOR-SIDE via `treeAggregate`: the driver receives a bounded
    * handful of partials (branch factor 4 per tree level), i.e.
    * O(bits/8) transfer regardless of input partitioning — at thousands
    * of input partitions the former collect-all-partials merge shipped
    * numPartitions × bits/8 to the driver on the hot streaming path.
    * Merging is a bitset OR (associative + commutative), so the merged
    * filter is BIT-IDENTICAL to a sequential build (spec-pinned in
    * StreamingSpec). Build/probe symmetry is by construction:
    * `putString` here hashes the UTF-8 bytes, exactly what the probe
    * expression's `mightContainBinary(utf8)` reads back.
    */
  private[streaming] def buildBloom(
      hashes: DataFrame, items: Long, bits: Long): org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.spark.util.sketch.BloomFilter
    val spark = hashes.sparkSession
    import spark.implicits._
    val rdd = hashes.as[String].rdd
    // depth so the final driver-side fold sees ≤~4 partials at any P
    val p = math.max(1, rdd.getNumPartitions)
    val depth = math.max(2, math.ceil(math.log(p.toDouble) / math.log(4.0)).toInt)
    // Option zero: the bits/8-sized filter is allocated lazily on a
    // partition's FIRST element, so empty partitions ship a None instead
    // of a bits/8 zero filter each way (a per-batch fold's frame is
    // mostly empty partitions)
    rdd.treeAggregate(Option.empty[BloomFilter])(
      (acc, s) => {
        val b = acc.getOrElse(BloomFilter.create(items, bits))
        b.putString(s): Unit
        Some(b)
      },
      (a, b) => (a, b) match {
        case (Some(x), Some(y)) => x.mergeInPlace(y): Unit; Some(x)
        case (x, y) => x.orElse(y)
      },
      depth).getOrElse(BloomFilter.create(items, bits))
  }

  /** Cumulative bloom-sidecar state of a hash index — the probe side of
    * [[startDedupIngest]]'s gate. The filter covers EVERY `_h` in the
    * index as of snapshot `covered` and persists as
    * `<index root>/_blooms/<snapshotId>.bloom` (cumulative through that
    * snapshot, so a restart loads ONE file instead of re-scanning the
    * index; predecessors are deleted on advance). Overwrites or deletes
    * in the index only ever leave STALE hashes in the filter — false
    * positives that fall through to the exact anti-join — never false
    * negatives, so the gate stays correct under any index history.
    * Changing the bloom sizing between runs is detected (incompatible
    * merge / sidecar) and answered with one full rebuild.
    */
  private[streaming] final class IngestBloomState(
      index: graft.sink.SnapshotTable, items: Long, bits: Long) {
    import org.apache.spark.util.sketch.{BloomFilter, IncompatibleMergeException}
    private val dir = java.nio.file.Paths.get(index.root, "_blooms")
    private var filter: BloomFilter = BloomFilter.create(items, bits)
    private var covered: Long = -1L
    def bloom: BloomFilter = filter
    private[streaming] def coveredSnapshot: Long = covered
    private def sidecar(id: Long) = dir.resolve(s"$id.bloom")
    private def writeSidecar(id: Long): Unit = {
      java.nio.file.Files.createDirectories(dir): Unit
      val bytes = new java.io.ByteArrayOutputStream()
      filter.writeTo(bytes)
      graft.sink.MetadataJson.write(sidecar(id), bytes.toByteArray)
      val files = dir.toFile.listFiles()
      if (files != null) files.filter { f =>
        f.getName.endsWith(".bloom") &&
          f.getName.stripSuffix(".bloom").toLongOption.exists(_ < id)
      }.foreach(f => { f.delete(): Unit })
    }
    /** Bring the filter up to the index head: load the head's sidecar
      * (restart, O(1)), fold the delta since `covered` (another
      * committer moved the head, O(delta)), or rebuild from the whole
      * index (no usable sidecar — one pass, the price the pre-bloom
      * shape paid per BATCH).
      */
    def sync(spark: SparkSession): Unit = {
      val head = index.currentSnapshot.map(_.id).getOrElse(return)
      if (covered == head) return
      def rebuild(): Unit = {
        filter = Streaming.buildBloom(
          index.read(spark).select(org.apache.spark.sql.functions.col("_h")),
          items, bits)
        covered = head
        writeSidecar(head)
      }
      if (covered < 0) {
        val p = sidecar(head)
        if (java.nio.file.Files.exists(p)) {
          val is = java.nio.file.Files.newInputStream(p)
          val loaded = try BloomFilter.readFrom(is) finally is.close()
          if (loaded.isCompatible(filter)) { filter = loaded; covered = head }
          else rebuild()
        } else rebuild()
      } else {
        val delta = index.readIncremental(spark, covered, head)
          .select(org.apache.spark.sql.functions.col("_h"))
        try {
          filter.mergeInPlace(Streaming.buildBloom(delta, items, bits)): Unit
          covered = head
          writeSidecar(head)
        } catch { case _: IncompatibleMergeException => rebuild() }
      }
    }
    /** Fold a just-committed batch's hashes (O(batch), no table re-read)
      * and persist the new head's cumulative sidecar. The O(batch) fast
      * path is only sound when OUR append's parent is exactly the
      * covered snapshot: an index snapshot committed by another writer
      * between the batch-start sync and this append would otherwise be
      * skipped forever (the next sync sees covered == head and no-ops,
      * and the hole persists into the cumulative sidecar a restart
      * trusts — bloom false NEGATIVES, duplicates through the gate).
      * With an interleaved rival commit, fall back to sync(), which
      * folds readIncremental(covered, head) — covering both the rival's
      * rows and our own batch.
      */
    def committed(hashes: DataFrame, snap: graft.sink.Snapshot): Unit = {
      if (snap.parentId.getOrElse(-1L) == covered) {
        filter.mergeInPlace(Streaming.buildBloom(hashes, items, bits)): Unit
        covered = snap.id
        writeSidecar(snap.id)
      } else sync(hashes.sparkSession)
    }
  }

  /** Streaming SCD2 dimension maintenance (`stream_scd2_merge`): each
    * CDC microbatch is merged into the dimension snapshot table with the
    * SAME [[graft.patterns.Scd2.merge]] as the batch path — read current
    * state, merge the batch, overwrite-commit. `effectiveAt` maps the
    * batch id to a deterministic merge instant (production would use the
    * batch's commit time; determinism here is what makes the result
    * oracle-checkable). Dimensions are small relative to fact streams,
    * so the per-batch dimension rewrite is the reference's own batch
    * dimension-asset cost profile (`assets/dimensions.py:19-33`), run
    * per microbatch; the SCD2 invariants (≤1 current row per key,
    * non-overlapping effective ranges) hold after EVERY batch, not just
    * at stream end (spec-checked).
    */
  def startScd2Merge(
      changes: DataFrame,
      table: graft.sink.SnapshotTable,
      trackedCols: Seq[String],
      effectiveAt: Long => org.apache.spark.sql.Column,
      checkpoint: String) =
    changes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val dim = table.read(batch.sparkSession)
        table.overwrite(
          graft.patterns.Scd2.merge(dim, batch.toDF(), trackedCols, effectiveAt(batchId)))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Streaming CDC upsert into a lakehouse table via merge-on-read
    * (`stream_mor_upsert`): each microbatch keeps only the LATEST
    * change per key (max_by over `orderCol` — a map-side-partial
    * aggregate, so the per-batch dedup both satisfies the MERGE
    * cardinality rule and scales), then commits through
    * [[graft.sink.SnapshotTable.mergeOnce]]: ONE atomic snapshot =
    * positional delete of the touched row versions + append of the
    * upserted rows, exactly-once under foreachBatch's at-least-once
    * delivery via the (queryId, batchId) summary watermark. The
    * trickle-CDC-into-a-huge-table shape: per batch cost is
    * O(changed keys), no data file is ever rewritten, and the
    * merge-on-read debt is paid by scheduled compaction, not by the
    * stream.
    */
  def startMorUpsert(
      changes: DataFrame,
      table: graft.sink.SnapshotTable,
      keys: Seq[String],
      orderCol: String,
      checkpoint: String,
      queryId: String) =
    changes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import org.apache.spark.sql.functions.{col, max_by, struct}
        val latest = batch.toDF()
          .groupBy(keys.map(col): _*)
          .agg(max_by(struct(batch.columns.map(col): _*), col(orderCol)).as("__r"))
          .select(batch.columns.map(c => col(s"__r.$c")): _*)
        table.mergeOnce(queryId, batchId, latest, keys.map(k => k -> k),
          matchedClauses = Seq(graft.sink.Merge.WhenMatched(graft.sink.Merge.UpdateAll)),
          notMatchedClauses = Seq(graft.sink.Merge.WhenNotMatched(graft.sink.Merge.InsertAll)))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Streaming quality enforcement (`stream_quality_gate`): every
    * microbatch is gated BEFORE it can land — a passing batch appends to
    * the main table, a failing one is quarantined WHOLE (the streaming
    * dead-letter pattern: one poisoned delivery must neither kill the
    * pipe nor pollute the table; operators replay the quarantine after
    * fixing the producer). The gate is the same check machinery the
    * batch path uses (`quality/runner.py:56-79` semantics), evaluated as
    * one aggregation job over the DELTA-sized batch; both sinks are
    * governed snapshot appends. A QualityTimeout still kills the stream
    * — a hung scan is an operational failure, not bad data.
    */
  def startGatedIngest(
      stream: DataFrame,
      template: graft.template.TableTemplate,
      table: graft.sink.SnapshotTable,
      quarantine: graft.sink.SnapshotTable,
      checks: Seq[graft.quality.Quality.Check],
      checkpoint: String) =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val df = batch.toDF()
        try {
          graft.quality.Quality.gate(df, table.fullName, checks): Unit
          graft.sink.TableSink.append(df, template, table, micro = true): Unit
        } catch {
          case _: graft.quality.Quality.QualityFailure =>
            graft.sink.TableSink.append(df, template, quarantine, micro = true): Unit
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Dead-letter REPLAY — the other half of [[startGatedIngest]]'s
    * quarantine contract: after the operator fixes the producer (or
    * supplies a row-level `fix`), the held deliveries re-attempt the
    * SAME gate and, on pass, append to the main table; the quarantine
    * then drains via an empty overwrite (METADATA-ONLY commit — its
    * history survives, so what-was-quarantined stays time-travelable,
    * the audit trail an incident review needs). A replay whose fix did
    * NOT cure the data fails the gate and mutates NOTHING — replay is
    * atomic-per-attempt and idempotent to retry.
    *
    * Safe against a still-running gated stream: the replay reads the
    * quarantine PINNED at its head snapshot, and the drain commits as a
    * true COMPARE-AND-SWAP against the exact snapshot its survivors
    * delta was computed from ([[graft.sink.SnapshotTable.overwriteIf]]) —
    * if a batch quarantines anywhere between the pin and the winning
    * swap, the CAS fails and the delta is RECOMPUTED from the moved
    * head, so no concurrent batch is ever silently dropped. Cost is
    * O(quarantine), never O(main table).
    *
    * Retry-idempotent across PARTIAL failure: the main-table append
    * records a replay watermark (`replayed-quarantine` /
    * `replayed-through` = the pinned quarantine snapshot id) inside its
    * own commit summary — atomically with the rows it describes. A
    * re-run after a failed drain sees the watermark, appends only the
    * quarantine delta BEYOND it (nothing, typically) instead of
    * re-appending already-landed rows, and finishes the drain.
    */
  def replayQuarantine(
      spark: SparkSession,
      template: graft.template.TableTemplate,
      table: graft.sink.SnapshotTable,
      quarantine: graft.sink.SnapshotTable,
      checks: Seq[graft.quality.Quality.Check],
      fix: DataFrame => DataFrame = identity): Option[graft.sink.Snapshot] = {
    val headId = quarantine.currentSnapshot.map(_.id).getOrElse(return None)
    if (quarantine.readSnapshot(spark, headId).isEmpty)
      return None // nothing held, nothing to drain (one limit-1 job)
    // resume watermark: the highest quarantine snapshot whose rows this
    // main table has already absorbed (recorded in the append's summary)
    val watermark: Option[Long] = {
      val throughs = table.snapshots
        .filter(_.summary.get(ReplayedFromKey).contains(quarantine.fullName))
        .flatMap(_.summary.get(ReplayedThroughKey).flatMap(_.toLongOption))
      if (throughs.isEmpty) None else Some(throughs.max)
    }
    val held0: Option[DataFrame] = watermark match {
      // everything up to the head already landed (a previous replay's
      // drain failed after its append won): only the drain remains
      case Some(w) if w >= headId => None
      case Some(w) => Some(quarantine.readIncremental(spark, w, headId))
      case None => Some(quarantine.readSnapshot(spark, headId))
    }
    val snapOpt = held0.filterNot(_.isEmpty).map { h =>
      // quarantined rows carry the template's DERIVED partition columns
      // (directory layout, not data) — project back to the declared
      // schema so the re-append derives them fresh like any ingest
      val held = h.select(template.schema.fieldNames.toSeq
        .map(org.apache.spark.sql.functions.col): _*)
      val cured = fix(held)
      // throws QualityFailure before ANY table is touched
      graft.quality.Quality.gate(cured, table.fullName, checks): Unit
      graft.sink.TableSink.append(cured, template, table, summary = Map(
        ReplayedFromKey -> quarantine.fullName,
        ReplayedThroughKey -> headId.toString))
    }
    // drain: rows quarantined AFTER the pinned head (a concurrent gated
    // stream may still be failing batches in) survive; the CAS pins the
    // delta's basis, recomputing whenever a rival commit moves the head
    val fmt = quarantine.currentSnapshot.map(_.format).getOrElse("parquet")
    var attempt = 0
    var drained = false
    while (!drained) {
      val pinned = quarantine.currentSnapshot.map(_.id)
      val survivors = pinned.filter(_ != headId)
        .map(cur => quarantine.readIncremental(spark, headId, cur))
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          quarantine.read(spark).schema))
      try {
        // surviving rows keep the quarantine's partition layout
        quarantine.overwriteIf(survivors, pinned,
          quarantine.partitionColumns, format = fmt): Unit
        drained = true
      } catch {
        case _: graft.sink.CommitFailedException if attempt < DrainCasAttempts =>
          attempt += 1 // head moved since the pin: recompute the delta
      }
    }
    snapOpt
  }

  /** Commit-summary keys of the quarantine-replay watermark (see
    * [[replayQuarantine]]): which quarantine a replayed append came
    * from, and the quarantine snapshot id it replayed through.
    */
  val ReplayedFromKey = "replayed-quarantine"
  val ReplayedThroughKey = "replayed-through"

  /** Drain CAS retry bound: each retry recomputes the survivors delta
    * from the moved head, so exhaustion means a pathologically hot
    * quarantine — surface the conflict (the replay is resumable: the
    * watermark already landed with the append) rather than loop forever.
    */
  private val DrainCasAttempts = 8

  final case class Event(user_id: Long, event_type: String, value: Double)
  final case class UserStats(user_id: Long, events: Long, purchases: Long, total_value: Double)

  /** Custom per-key streaming state: running per-user activity stats via
    * mapGroupsWithState (KeyValueGroupedDataset surface).
    */
  def userStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0L, 0.0))
          val next = batch.foldLeft(prev) { (s, e) =>
            UserStats(uid, s.events + 1,
              s.purchases + (if (e.event_type == "purchase") 1 else 0),
              s.total_value + e.value)
          }
          state.update(next)
          next
      }
  }
}
