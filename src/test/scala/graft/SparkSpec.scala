package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started while `f` runs, counted by a SCOPED listener
    * (monotonic, so immune to the shared session's status-store
    * eviction — the tracker's getJobIdsForGroup count can go DOWN when
    * the suite run's cumulative job total crosses the retention limit).
    * Listener delivery is async, so the count is polled until it
    * stabilizes.
    */
  def jobsDuring(f: => Any): Int = jobSitesDuring(f).size

  /** The file-source relations `plan` scans, in plan order. */
  def fsRelations(plan: LogicalPlan): Seq[HadoopFsRelation] =
    plan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }

  /** The call site of every Spark job started while `f` runs, in start
    * order: the first engine frame (a `graft.` frame outside a
    * `*Spec.scala` file) of the call site of the SQL execution that ran
    * the job (e.g. `graft.sink.SnapshotTable.copyOnWrite(SnapshotTable.
    * scala:705)`), or, for a job outside any SQL execution, the name of
    * its result stage (`count at SnapshotTable.scala:298`). A job with
    * no engine frame, such as an action a spec calls itself, is named by
    * the operator scopes of its result stage's RDDs (`scopes: Exchange,
    * LocalTableScan`). The stage name alone would not do: AQE submits a
    * query's later jobs from a pool thread, whose stages are named after
    * a `CompletableFuture` frame. A job-count pin that fails prints
    * these, so the message names the code that ran the extra job.
    */
  def jobSitesDuring(f: => Any): Seq[String] = {
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Option[Long], String)]()
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    def inSpec(site: String) = site.contains("Spec.scala:")
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val result = js.stageInfos.maxByOption(_.stageId)
        val execution = Option(js.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).map(_.toLong)
        // a SQL job's fallback and a spec-named stage's name: its scopes
        val scopes = result.toSeq.flatMap(_.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)))
        val stage = result.map(_.name).filter(n => execution.isEmpty && !inSpec(n))
          .getOrElse(s"scopes: ${scopes.distinct.mkString(", ")}")
        jobs.add((js.jobId, execution, stage)): Unit
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.details.linesIterator.map(_.trim).find(line => line.startsWith("graft.") && !inSpec(line))
            .foreach(executions.put(s.executionId, _))
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      var prev = -1
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline && jobs.size != prev) {
        prev = jobs.size; Thread.sleep(250)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.sortBy(_._1).map { case (_, execution, stage) =>
      execution.flatMap(id => Option(executions.get(id))).getOrElse(stage)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // same activation Verify/Bench use — the sql_* registry queries
      // (exercised registry-wide by PlanSpec) resolve through the
      // graft catalog's extension rule
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
