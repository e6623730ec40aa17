package perfbench

import graft.sink.SnapshotTable

/** Per-layer metrics computed from a traced run. Every metric is printed
  * on every workload; a layer a workload does not exercise reads 0, which
  * is what was measured there.
  */
object Layers {

  val Units: Seq[(String, String)] = Seq(
    "sink.append_ms_p50" -> "ms", "sink.append_driver_only_ms_p50" -> "ms",
    "sink.append_jobs" -> "count", "sink.append_ms_slope" -> "ms/100snap",
    "sink.meta_bytes_live" -> "B", "sink.data_files_live" -> "count",
    "sink.maintenance_ms" -> "ms", "sink.maintenance_mb_rewritten" -> "MB",
    "sink.curated_commit_ms" -> "ms",
    "catalog.dml_analysis_ms_p50" -> "ms", "catalog.dml_optimization_ms_p50" -> "ms",
    "catalog.dml_planning_ms_p50" -> "ms", "catalog.dml_jobs" -> "count",
    "catalog.dml_driver_only_ms_p50" -> "ms", "catalog.dml_files_rewritten" -> "count",
    "catalog.query_analysis_ms_p50" -> "ms", "catalog.query_optimization_ms_p50" -> "ms",
    "catalog.query_planning_ms_p50" -> "ms", "catalog.query_jobs" -> "count",
    "catalog.query_driver_only_ms_p50" -> "ms",
    "plans.files_read_frac" -> "ratio", "plans.rows_read_per_row_out" -> "ratio",
    "plans.input_mb_per_query" -> "MB",
    "source.read_call_ms_p50" -> "ms",
    "streaming.batch_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.overhead_ms_p50" -> "ms", "streaming.jobs_per_batch" -> "count",
    "text.normalize_ms" -> "ms", "text.lang_id_ms" -> "ms", "text.quality_ms" -> "ms",
    "text.repetition_ms" -> "ms", "text.chunk_ms" -> "ms", "text.chunk_audit_ms" -> "ms",
    "text.chunk_audit_ms_per_mb_long" -> "ms/MB", "text.chunk_audit_ms_per_mb_short" -> "ms/MB",
    "text.executor_cpu_s" -> "s",
    "dedup.exact_ms" -> "ms", "dedup.minhash_ms" -> "ms", "dedup.components_ms" -> "ms",
    "dedup.substring_ms" -> "ms", "dedup.candidate_pairs" -> "count",
    "dedup.verify_yield" -> "ratio", "dedup.shuffle_mb" -> "MB", "dedup.executor_cpu_s" -> "s",
    "multimodal.phash_dedup_ms" -> "ms", "multimodal.phash_jobs" -> "count",
    "similarity.index_build_ms" -> "ms", "similarity.search_jobs" -> "count",
    "similarity.search_driver_only_ms_p50" -> "ms", "similarity.search_shuffle_mb" -> "MB",
    "quality.evaluate_ms" -> "ms", "governance.masked_read_ms_p50" -> "ms",
    "patterns.asof_join_ms" -> "ms",
    "spark.jobs_total" -> "count", "spark.tasks_total" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.job_ms_p90" -> "ms", "spark.driver_only_frac" -> "ratio", "trace.overhead_frac" -> "ratio",
    // workload-specific end-to-end figures, from the traced run
    "workload.append_ms_p50" -> "ms",
    "workload.upsert_ms_p50" -> "ms", "workload.dml_ms_p50" -> "ms",
    "workload.query_ms_p50" -> "ms",
    "workload.curate_docs_per_s" -> "docs/s", "workload.search_ms_p50" -> "ms",
    "workload.dedup_recall" -> "ratio", "workload.ann_recall_at_10" -> "ratio",
    "workload.failed_ops_frac" -> "ratio", "workload.cpu_s" -> "s")

  def complete(m: Map[String, Double]): Map[String, (Double, String)] = {
    val unknown = m.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the unit table: $unknown")
    Units.map { case (n, u) =>
      n -> (m.get(n).filterNot(v => v.isNaN || v.isInfinite).getOrElse(0.0), u)
    }.toMap
  }

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private val MB = 1024.0 * 1024.0

  /** Scheduler totals over the timed operations (the spans opened by
    * each operation inside `[w0, w1]`) and the tracer's own cost as a
    * share of their time.
    */
  def spark(t: Tracer, w0: Double, w1: Double, ctx: Ctx, cpuS: Double): Map[String, Double] = {
    val ops = t.allSpans.filter(s => s.parent == 0 && s.start >= w0 && s.end <= w1)
    val js = ops.flatMap(t.jobsIn)
    val opMs = ops.map(_.ms).sum
    Map(
      "spark.jobs_total" -> js.size.toDouble,
      "spark.tasks_total" -> js.map(_.tasks).sum.toDouble,
      "spark.executor_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> js.map(_.shuffleWriteBytes).sum / MB,
      "spark.job_ms_p90" -> Stats.tail(js.filterNot(_.end.isNaN).map(j => j.end - j.start), 0.9).getOrElse(0.0),
      "spark.driver_only_frac" -> ops.map(t.driverOnlyMs).sum / opMs,
      "trace.overhead_frac" -> t.ownMs / opMs,
      "workload.failed_ops_frac" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "workload.cpu_s" -> cpuS)
  }

  /** Phase times, jobs and driver-only time of the SQL statements run
    * inside the spans called `span`, reported under that name.
    */
  def statements(t: Tracer, span: String): Map[String, Double] = {
    val ss = t.named(span)
    val qs = ss.map(t.queriesIn)
    Map(
      s"${span}_analysis_ms_p50" -> p50(qs.map(_.map(_.analysisMs).sum)),
      s"${span}_optimization_ms_p50" -> p50(qs.map(_.map(_.optimizationMs).sum)),
      s"${span}_planning_ms_p50" -> p50(qs.map(_.map(_.planningMs).sum)),
      s"${span}_jobs" -> mean(ss.map(s => t.jobsIn(s).size.toDouble)),
      s"${span}_driver_only_ms_p50" -> p50(ss.map(t.driverOnlyMs)))
  }

  def ingestQuery(
      ctx: Ctx, appendMs: Seq[(Double, Int)], queryMs: Seq[Double], upsertMs: Seq[Double],
      dmlMs: Seq[Double], maintMs: Seq[Double], maintBytes: Long, filesRewritten: Long,
      meta: Double, table: SnapshotTable, reads: Seq[(Long, Long, Long)], w0: Double, w1: Double,
      cpuS: Double): Map[String, (Double, String)] = {
    val t = ctx.tracer
    val appends = t.named("sink.append")
    val batches = t.named("streaming.process").flatMap(t.batchesIn)
    val opSpans = t.allSpans.filter(_.parent == 0).map(s => s.op -> s).toMap
    // (SQL executions, live data files of the tables read, rows returned) per read
    val measured = reads.flatMap { case (id, live, out) => opSpans.get(id).map(s => (t.queriesIn(s), live, out)) }
    val scanned = measured.filter(_._2 > 0)
    val m = Map(
      "sink.append_ms_p50" -> p50(appends.map(_.ms)),
      "sink.append_driver_only_ms_p50" -> p50(appends.map(t.driverOnlyMs)),
      "sink.append_jobs" -> mean(appends.map(s => t.jobsIn(s).size.toDouble)),
      "sink.append_ms_slope" -> (if (appendMs.map(_._2).distinct.size < 2) 0.0
        else 100 * Stats.slope(appendMs.map(_._2.toDouble), appendMs.map(_._1))),
      "sink.meta_bytes_live" -> meta,
      "sink.data_files_live" -> table.dataFileCount.toDouble,
      "sink.maintenance_ms" -> maintMs.sum,
      "sink.maintenance_mb_rewritten" -> maintBytes / MB,
      "catalog.dml_files_rewritten" -> filesRewritten.toDouble / math.max(1, dmlMs.size),
      "plans.files_read_frac" ->
        scanned.map(_._1.map(_.filesRead).sum).sum.toDouble / math.max(1L, scanned.map(_._2).sum),
      "plans.rows_read_per_row_out" ->
        measured.map(_._1.map(_.rowsRead).sum).sum.toDouble / math.max(1L, measured.map(_._3).sum),
      "plans.input_mb_per_query" ->
        measured.map(_._1.map(_.bytesRead).sum).sum / MB / math.max(1, measured.size),
      "source.read_call_ms_p50" -> p50(t.named("source.read").map(_.ms)),
      "streaming.batch_ms_p50" -> p50(batches.map(_.triggerMs)),
      "streaming.add_batch_ms_p50" -> p50(batches.map(_.addBatchMs)),
      "streaming.overhead_ms_p50" -> p50(batches.map(b => b.triggerMs - b.addBatchMs)),
      "streaming.jobs_per_batch" -> (if (batches.isEmpty) 0.0
        else t.named("upsert").map(s => t.jobsIn(s).size).sum.toDouble / batches.size),
      "quality.evaluate_ms" -> p50(t.named("quality.evaluate").map(_.ms)),
      "governance.masked_read_ms_p50" -> p50(t.named("governance.masked_read").map(_.ms)),
      "patterns.asof_join_ms" -> p50(t.named("patterns.asof_join").map(_.ms)),
      "workload.append_ms_p50" -> p50(appendMs.map(_._1)),
      "workload.query_ms_p50" -> p50(queryMs),
      "workload.upsert_ms_p50" -> p50(upsertMs),
      "workload.dml_ms_p50" -> p50(dmlMs)) ++
      statements(t, "catalog.dml") ++ statements(t, "catalog.query") ++ spark(t, w0, w1, ctx, cpuS)
    complete(m)
  }

  def corpus(
      ctx: Ctx, stageMs: Map[String, Double], longMb: Double, shortMb: Double,
      searchMs: Seq[Double], docsPerS: Double, dedupRecall: Double, annRecall: Double,
      candidatePairs: Long, verifiedPairs: Long, w0: Double, w1: Double,
      cpuS: Double): Map[String, (Double, String)] = {
    val t = ctx.tracer
    def ms(n: String) = stageMs.getOrElse(n, 0.0)
    def jobsOf(prefix: String) = t.allSpans.filter(s => s.parent == 0 && s.name.startsWith(prefix))
      .flatMap(t.jobsIn)
    val searches = t.named("similarity.search")
    val m = Map(
      "text.normalize_ms" -> ms("text.normalize"), "text.lang_id_ms" -> ms("text.lang_id"),
      "text.quality_ms" -> ms("text.quality"), "text.repetition_ms" -> ms("text.repetition"),
      "text.chunk_ms" -> ms("text.chunk"),
      "text.chunk_audit_ms" -> (ms("text.chunk_audit_long") + ms("text.chunk_audit_short")),
      "text.chunk_audit_ms_per_mb_long" -> ms("text.chunk_audit_long") / longMb,
      "text.chunk_audit_ms_per_mb_short" -> ms("text.chunk_audit_short") / shortMb,
      "text.executor_cpu_s" -> jobsOf("text.").map(_.cpuNs).sum / 1e9,
      "dedup.exact_ms" -> ms("dedup.exact"), "dedup.minhash_ms" -> ms("dedup.minhash"),
      "dedup.components_ms" -> ms("dedup.components"), "dedup.substring_ms" -> ms("dedup.substring"),
      "dedup.candidate_pairs" -> candidatePairs.toDouble,
      "dedup.verify_yield" -> verifiedPairs.toDouble / math.max(1L, candidatePairs),
      "dedup.shuffle_mb" -> jobsOf("dedup.").map(_.shuffleWriteBytes).sum / MB,
      "dedup.executor_cpu_s" -> jobsOf("dedup.").map(_.cpuNs).sum / 1e9,
      "multimodal.phash_dedup_ms" -> ms("multimodal.phash_dedup"),
      "multimodal.phash_jobs" -> jobsOf("multimodal.").size.toDouble,
      "similarity.index_build_ms" -> ms("similarity.index_build"),
      "similarity.search_jobs" -> mean(searches.map(s => t.jobsIn(s).size.toDouble)),
      "similarity.search_driver_only_ms_p50" -> p50(searches.map(t.driverOnlyMs)),
      "similarity.search_shuffle_mb" -> mean(searches.map(s => t.jobsIn(s).map(_.shuffleWriteBytes).sum / MB)),
      "sink.curated_commit_ms" -> ms("sink.curated_commit"),
      "workload.curate_docs_per_s" -> docsPerS,
      "workload.search_ms_p50" -> p50(searchMs),
      "workload.dedup_recall" -> dedupRecall,
      "workload.ann_recall_at_10" -> annRecall) ++ spark(t, w0, w1, ctx, cpuS)
    complete(m)
  }
}
