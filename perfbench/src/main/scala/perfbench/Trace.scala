package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in milliseconds with sub-millisecond resolution, on the
  * same epoch as the timestamps Spark stamps on its listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced call: `op` groups the spans of one benchmark operation. */
final case class Span(id: Int, parent: Int, op: Long, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** One Spark job with the task metrics of its completed stages. */
final class JobRec(val id: Int, val start: Double) {
  var end: Double = Double.NaN
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
}

/** One SQL execution: its planning phases and what its file scans read. */
final case class QueryRec(
    analysisStart: Double, end: Double, analysisMs: Double, optimizationMs: Double,
    planningMs: Double, filesRead: Long, rowsRead: Long, bytesRead: Long)

/** One streaming micro-batch as reported by its progress event. */
final case class BatchRec(end: Double, triggerMs: Double, addBatchMs: Double)

/** Spans around the benchmark's calls into each engine module, plus the
  * counters Spark's public listener interfaces expose. Disabled, a span
  * is a plain call and no listener is registered: the untraced run pays
  * nothing. Everything is kept in memory and written out once at the end.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, Long)]] { override def initialValue() = Nil }
  private var nextId = 0
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stageToJob = scala.collection.mutable.Map.empty[Int, JobRec]
  private val queries = ArrayBuffer.empty[QueryRec]
  private val batches = ArrayBuffer.empty[BatchRec]
  private val ownNs = new AtomicLong(0L)

  /** A top-level benchmark operation `op`; nested [[span]]s inherit its id. */
  def op[T](name: String, op: Long)(body: => T): T = run(name, Some(op))(body)

  /** A call into one module, a child of the enclosing span. */
  def span[T](name: String)(body: => T): T = run(name, None)(body)

  private def run[T](name: String, op: Option[Long])(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val parent = stack.get.headOption
      val opId = op.orElse(parent.map(_._2)).getOrElse(-1L)
      val id = spans.synchronized { nextId += 1; nextId }
      stack.set((id, opId) :: stack.get)
      val start = Clock.nowMs
      ownNs.addAndGet(System.nanoTime() - t0)
      try body
      finally {
        val t1 = System.nanoTime()
        val end = Clock.nowMs
        stack.set(stack.get.tail)
        spans.synchronized {
          spans += Span(id, parent.map(_._1).getOrElse(0), opId, name, start, end)
        }
        ownNs.addAndGet(System.nanoTime() - t1)
      }
    }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally ownNs.addAndGet(System.nanoTime() - t0)
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = timed {
        val j = new JobRec(e.jobId, e.time.toDouble)
        jobs.synchronized {
          jobs += j
          e.stageIds.foreach(s => stageToJob(s) = j)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
        jobs.synchronized(jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
        val info = e.stageInfo
        jobs.synchronized(stageToJob.get(info.stageId)).foreach { j =>
          val m = info.taskMetrics
          jobs.synchronized {
            j.tasks += info.numTasks
            if (m != null) {
              j.cpuNs += m.executorCpuTime
              j.gcMs += m.jvmGCTime
              j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
              j.inputBytes += m.inputMetrics.bytesRead
            }
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        timed(record(qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        timed(record(qe))
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        if (p.numInputRows > 0)
          batches.synchronized {
            batches += BatchRec(Clock.nowMs, d.getOrElse("triggerExecution", 0.0),
              d.getOrElse("addBatch", 0.0))
          }
      }
    })
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def phMs(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.get("analysis").map(_.startTimeMs.toDouble)
      .orElse(ph.values.map(_.startTimeMs.toDouble).minOption).getOrElse(Clock.nowMs)
    val scans = fileScans(qe.executedPlan)
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    queries.synchronized {
      queries += QueryRec(start, Clock.nowMs, phMs("analysis"), phMs("optimization"),
        phMs("planning"), scans.map(metric(_, "numFiles")).sum,
        scans.map(metric(_, "numOutputRows")).sum, scans.map(metric(_, "filesSize")).sum)
    }
  }

  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case r: ReusedExchangeExec => fileScans(r.child)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  /** Wait until the listener bus has delivered every event up to now: a
    * marker query's job end and execution record must both arrive.
    */
  def drain(spark: SparkSession): Unit = if (enabled) {
    val mark = Clock.nowMs
    spark.range(1).count()
    val deadline = System.currentTimeMillis() + 10000
    def seen = jobs.synchronized(jobs.exists(j => j.start >= mark - 1 && !j.end.isNaN)) &&
      queries.synchronized(queries.exists(_.end >= mark))
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Time spent inside the tracer itself: span bookkeeping and listener
    * callbacks, in milliseconds.
    */
  def ownMs: Double = ownNs.get / 1e6

  // ---- analysis over the recorded trace -------------------------------

  def named(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toList)
  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  def jobsIn(s: Span): Seq[JobRec] =
    jobs.synchronized(jobs.filter(j => j.start >= s.start && j.start <= s.end).toList)

  /** Part of `[lo, hi]` covered by at least one Spark job. */
  def jobUnionMs(lo: Double, hi: Double): Double =
    Stats.unionLength(jobs.synchronized(jobs.toList).map(j =>
      (j.start, if (j.end.isNaN) hi else j.end)), lo, hi)

  /** Wall time of `s` during which no Spark job ran: planning, commit IO
    * and other work on the driver.
    */
  def driverOnlyMs(s: Span): Double = s.ms - jobUnionMs(s.start, s.end)

  /** Wall time of `s` not covered by any of its child spans. */
  def selfMs(s: Span): Double = {
    val kids = spans.synchronized(spans.filter(_.parent == s.id).toList)
    s.ms - Stats.unionLength(kids.map(k => (k.start, k.end)), s.start, s.end)
  }

  def queriesIn(s: Span): Seq[QueryRec] =
    queries.synchronized(queries.filter(q => q.analysisStart >= s.start && q.analysisStart <= s.end).toList)

  def batchesIn(s: Span): Seq[BatchRec] =
    batches.synchronized(batches.filter(b => b.end >= s.start && b.end <= s.end + 1000).toList)

  /** The spans with their self and driver-only time, the jobs and the
    * SQL executions, as one JSON document.
    */
  def toJson: String = {
    val sp = allSpans.sortBy(_.id).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> selfMs(s),
        "driver_only_ms" -> driverOnlyMs(s), "jobs" -> jobsIn(s).size)
    }
    val jb = jobs.synchronized(jobs.toList).map { j =>
      Json.obj("id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks,
        "executor_cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
        "shuffle_write_bytes" -> j.shuffleWriteBytes, "input_bytes" -> j.inputBytes)
    }
    val qs = queries.synchronized(queries.toList).map { q =>
      Json.obj("analysis_start_ms" -> q.analysisStart, "end_ms" -> q.end,
        "analysis_ms" -> q.analysisMs, "optimization_ms" -> q.optimizationMs,
        "planning_ms" -> q.planningMs, "files_read" -> q.filesRead,
        "rows_read" -> q.rowsRead, "bytes_read" -> q.bytesRead)
    }
    Json.obj("spans" -> Json.arr(sp), "jobs" -> Json.arr(jb), "queries" -> Json.arr(qs)).s
  }
}

/** Minimal JSON rendering: the benchmark's output is flat numbers and
  * short strings, so no library is needed.
  */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }
    .mkString("{", ", ", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ", ", "]"))
}
