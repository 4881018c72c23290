package org.apache.spark.sql.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Per-op layer measurements taken from outside the program: a listener
  * the benchmark registers for the duration of one traced op. SQL
  * executions, their planning phases and their jobs become child spans of
  * the harness span they ran under; task metrics are summed per op. */
final class Probe(cores: Int) extends SparkListener {
  import Harness.Span

  private final class Exec(val id: Long, val root: Long, val startMs: Long) {
    var endMs: Long = -1L
    var sink: String = ""
    var phases: Seq[(String, Long, Long)] = Nil
    var exchanges = 0
  }
  private final class Job(val exec: Long, val startMs: Long, val callSite: String) {
    var endMs: Long = -1L
  }

  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageExec = mutable.Map[Int, Long]()
  private var stages, tasks = 0L
  private var runMs, shuffleBytes, spillBytes, bytesWritten = 0L
  private val recordsByExec = mutable.Map[Long, Long]().withDefaultValue(0L)

  def attach(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)
  def detach(spark: SparkSession): Unit = spark.sparkContext.removeSparkListener(this)

  def begin(): Unit = synchronized {
    execs.clear(); jobs.clear(); stageExec.clear(); recordsByExec.clear()
    stages = 0; tasks = 0; runMs = 0; shuffleBytes = 0; spillBytes = 0
    bytesWritten = 0
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = new Exec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time)
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach { x =>
          x.endMs = e.time
          Option(e.qe).foreach { qe =>
            x.sink = qe.logical.collectFirst {
              case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
            }.getOrElse("")
            x.phases = qe.tracker.phases.toSeq.map { case (n, p) =>
              (n, p.startTimeMs, p.endTimeMs) }
            x.exchanges = Probe.exchanges(qe.executedPlan)
          }
        }
      case _ => ()
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    // the result stage is named after the job's call site
    val site = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name
    jobs(j.jobId) = new Job(exec, j.time, site)
    j.stageIds.foreach(s => stageExec(s) = exec)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.endMs = j.time)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(t.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      bytesWritten += m.outputMetrics.bytesWritten
      recordsByExec(stageExec.getOrElse(t.stageId, -1L)) +=
        m.outputMetrics.recordsWritten
    }
  }

  /** Drain the bus, turn this op's events into spans and metrics. */
  def end(spark: SparkSession, tracer: Harness.Tracer, op: Int, sUs: Long,
      eUs: Long, gcMs: Long): Map[String, Any] = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    synchronized {
      val harness = tracer.opSpans(op)
      def clip(a: Long, b: Long) = (math.max(sUs, a), math.min(eUs, math.max(a, b)))
      // innermost span (shortest) that contains t
      def innermost(cands: Seq[Span], t: Long): Int =
        cands.filter(s => s.start <= t && t <= s.end)
          .sortBy(s => s.end - s.start).headOption.map(_.id)
          .getOrElse(harness.find(_.parent == 0).map(_.id).getOrElse(0))

      val execSpan = mutable.Map[Long, Span]()
      execs.values.toSeq.sortBy(x => (x.root != x.id, x.startMs)).foreach { x =>
        val (a, b) = clip(x.startMs * 1000, (if (x.endMs < 0) eUs / 1000 else x.endMs) * 1000)
        val parent = execSpan.get(x.root).filter(_ => x.root != x.id).map(_.id)
          .getOrElse(innermost(harness, a))
        val kind = Probe.sinkKind(x.sink)
        val sp = Span(tracer.newId(), parent, op, s"sql:$kind",
          if (x.sink.nonEmpty) "sources" else "operators", a, b)
        execSpan(x.id) = sp
      }
      val planSpans = execs.values.toSeq.flatMap { x =>
        x.phases.map { case (n, a0, b0) =>
          val (a, b) = clip(a0 * 1000, b0 * 1000)
          Span(tracer.newId(), innermost(harness ++ execSpan.values, (a + b) / 2),
            op, s"plan:$n", "plans", a, b)
        }
      }
      val jobSpans = jobs.values.toSeq.map { j =>
        val (a, b) = clip(j.startMs * 1000, (if (j.endMs < 0) eUs / 1000 else j.endMs) * 1000)
        val parent = execSpan.get(j.exec).map(_.id)
          .getOrElse(innermost(harness ++ execSpan.values, a))
        // a job outside any SQL execution on a read path is the data
        // source's own work: file listing and parquet schema inference
        val layer = if (j.exec < 0 && (j.callSite.startsWith("parquet at") ||
          j.callSite.startsWith("load at"))) "sources" else "exec"
        Span(tracer.newId(), parent, op, s"job:${j.callSite}", layer, a, b)
      }
      tracer.spans ++= execSpan.values ++ planSpans ++ jobSpans

      val roots = execs.values.filter(x => x.root == x.id).toSeq.sortBy(_.startMs)
      def dur(s: Span) = (s.end - s.start) / 1e6
      val construct = harness.filter(s => s.name == "construct" || s.name == "prepare")
      val inConstruct = (t: Long) => construct.exists(s => s.start <= t && t <= s.end)
      val sinks = roots.map(x => Probe.sinkKind(x.sink) -> dur(execSpan(x.id)))
      val wallS = (eUs - sUs) / 1e6
      Map(
        "sql_execs" -> roots.length,
        "sql_kinds" -> sinks.map(_._1),
        "jobs" -> jobs.size,
        "stages" -> stages,
        "tasks" -> tasks,
        "exec_s" -> roots.map(x => dur(execSpan(x.id))).sum,
        "classify_s" -> roots.headOption.map(x => dur(execSpan(x.id))).getOrElse(0.0),
        "construct_s" -> construct.map(dur).sum,
        "construct_jobs" -> jobSpans.count(s => inConstruct(s.start)),
        "plan_s" -> execs.values.toSeq.flatMap(_.phases).map { case (_, a, b) => (b - a) / 1e3 }.sum,
        "exchanges" -> execs.values.map(_.exchanges).sum,
        "commit_s" -> sinks.filter(_._1 != "query").map(_._2).sum,
        "bytes_written" -> bytesWritten,
        "state_rows_written" -> execs.values.filter(x => Probe.sinkKind(x.sink) == "state")
          .map(x => recordsByExec(x.id)).sum,
        "shuffle_bytes" -> shuffleBytes,
        "spill_bytes" -> spillBytes,
        "gc_s" -> gcMs / 1e3,
        "task_busy_ratio" -> runMs / 1e3 / (wallS * cores))
    }
  }
}

object Probe {
  /** Which sink an execution wrote, by the last segment of its path. */
  def sinkKind(path: String): String =
    if (path.isEmpty) "query"
    else {
      val segs = path.split('/').filter(_.nonEmpty)
      segs.reverseIterator.find(s => Set("state", "audit", "conflicts")(s))
        .getOrElse(segs.lastOption.getOrElse("write"))
    }

  /** Shuffle exchanges in the final physical plan, subqueries included. */
  def exchanges(p: SparkPlan): Int = {
    val own = p match {
      case _: ShuffleExchangeLike => 1
      case _ => 0
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case _ => 0
    }
    own + inner + p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }
}
