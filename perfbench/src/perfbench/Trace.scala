package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `root` is the op the span belongs to; times are
  * `System.nanoTime`. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      root: Int, start: Long, var end: Long = -1L)

/** A Spark job and the task metrics of every task it ran. Times of the
  * job are listener wall-clock millis; task intervals too. */
final class JobRec(val id: Int, val span: Int, val site: String,
                   val execId: Long, val start: Long) {
  var end = -1L
  var stages, tasks, failedTasks = 0
  var runMs, gcMs, delayMs, fetchWaitMs = 0L
  var cpuNs, inBytes, inRecs, shWrite, shRead, spill = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One SQL execution as the listener bus reports it (epoch millis). */
final class ExecRec(val id: Long, val root: Long, val span: Int,
                    val write: Boolean, val files: Seq[String], val start: Long) {
  var end = -1L
}

/** One finished query execution (action or command). */
final case class QeRec(span: Int, analysisMs: Long, optimizationMs: Long,
                       planningMs: Long, write: Boolean, writeFiles: Long,
                       writeBytes: Long, scanFiles: Long)

/** Span recorder plus the listeners that attribute Spark's job, task and
  * planning counts to spans.
  *
  * A span sets its own job group, so every job it starts carries the
  * span id. Query executions are attributed to the span open when the
  * bus delivers them; [[Bus.drain]] at every span boundary keeps that
  * delivery inside the span. A span closes only after the bus is
  * drained and every task of its jobs has reported its end. When
  * `enabled` is false, [[span]] only runs its body. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val openTasks = mutable.HashMap.empty[Int, Int]
  private var stack: List[Span] = Nil
  @volatile private var current = -1
  var enabled = false

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = prop(e.properties, "spark.jobGroup.id")
      val span = if (group != null && group.startsWith("pb-"))
        group.stripPrefix("pb-").toInt else -1
      val exec = Option(prop(e.properties, SQLExecId)).map(_.toLong).getOrElse(-1L)
      // a stage's name is the short call site of the action that made it
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs(e.jobId) = new JobRec(e.jobId, span, site, exec, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execs(s.executionId) = new ExecRec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), current,
          s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"),
          Tracer.frameFile.findAllMatchIn(s.details).map(_.group(1)).toSeq, s.time)
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        execs.get(s.executionId).foreach(_.end = s.time)
      }
      case _ =>
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = Tracer.this.synchronized {
      openTasks(e.stageId) = openTasks.getOrElse(e.stageId, 0) + 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      openTasks(e.stageId) = openTasks.getOrElse(e.stageId, 1) - 1
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        j.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inBytes += m.inputMetrics.bytesRead
          j.inRecs += m.inputMetrics.recordsRead
          j.shWrite += m.shuffleWriteMetrics.bytesWritten
          j.shRead += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          // scheduler delay as the Spark UI defines it
          j.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime)
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private def record(qe: QueryExecution): Unit = {
    if (current < 0) return
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val nodes = Tracer.nodes(qe.executedPlan)
    val writes = nodes.collect { case w: DataWritingCommandExec => w }
    def metric(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric], k: String) =
      m.get(k).map(_.value).getOrElse(0L)
    val rec = QeRec(current, ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING),
      writes.nonEmpty,
      writes.map(w => metric(w.cmd.metrics, "numFiles")).sum,
      writes.map(w => metric(w.cmd.metrics, "numOutputBytes")).sum,
      nodes.collect { case s: FileSourceScanExec => metric(s.metrics, "numFiles") }.sum)
    synchronized(qes += rec)
  }

  private val SQLExecId = "spark.sql.execution.id"

  private def fence(spanId: Int): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    if (spanId < 0) return
    val deadline = System.nanoTime() + 10L * 1000000000L
    def open(): Boolean = synchronized {
      jobs.valuesIterator.exists(j => j.span == spanId &&
        stageJob.exists { case (s, jid) => jid == j.id && openTasks.getOrElse(s, 0) > 0 })
    }
    while (open() && System.nanoTime() < deadline) {
      Thread.sleep(1)
      org.apache.spark.perfbench.Bus.drain(sc)
    }
  }

  /** Run `f` as a span of `layer`. Root spans (no open parent) are ops. */
  def span[A](name: String, layer: String)(f: => A): A = {
    if (!enabled) return f
    val parent = stack.headOption
    val id = spans.size
    fence(parent.map(_.id).getOrElse(-1))
    val s = Span(id, name, layer, parent.map(_.id).getOrElse(-1),
      parent.map(_.root).getOrElse(id), System.nanoTime())
    spans += s
    stack = s :: stack
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", s"pb-$id")
    current = id
    try f
    finally {
      s.end = System.nanoTime()
      fence(id)
      stack = stack.tail
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      current = parent.map(_.id).getOrElse(-1)
    }
  }

  /** Forget every recorded event (after warm-up). */
  def reset(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { spans.clear(); jobs.clear(); qes.clear(); execs.clear() }
  }
}

object Tracer {
  /** Source file of a stack frame in a call-site string. */
  val frameFile: scala.util.matching.Regex = """\((\w+\.(?:scala|java)):\d+\)""".r

  /** Every physical node of a finished execution, looking through
    * command results, adaptive plans and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
