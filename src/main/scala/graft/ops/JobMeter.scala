package graft.ops

import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** K13: what the Spark jobs a body starts do, per job and per stage (the
  * reference ships per-stage timings of every flow to Elasticsearch,
  * dump_db/tasks.py:126-134). [[measure]] holds one listener for the
  * body's run and drains the listener bus (`waitUntilEmpty`, no sentinel
  * job) before adding it and after the body returns. The scheduler posts
  * a job's task ends, stage completions and job end before its action
  * returns, so then every event of every job the body ran, from any
  * thread, has arrived. A drain that times out throws. */
object JobMeter {
  /** Scheduler start/end times in epoch ms; `endMs` is -1 for a job still
    * running when the body returned. */
  final case class Job(id: Int, properties: Properties, startMs: Long, endMs: Long)

  /** One completed stage; `name` (its call site) cut to 60 characters. */
  final case class Stage(id: Int, name: String, numTasks: Int, runTimeMs: Long,
    inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** Jobs in start order, stages in completion order, and the shuffle
    * bytes written and input records read by every ended task. */
  final case class Metered(jobs: Seq[Job], stages: Seq[Stage],
                           shuffleWriteBytes: Long, inputRecords: Long) {
    def report(spark: SparkSession): DataFrame = {
      import spark.implicits._
      stages.toDF("stage_id", "name", "n_tasks", "run_ms", "input_bytes",
        "shuffle_read", "shuffle_write")
    }
  }

  def measure(spark: SparkSession)(body: => Unit): Metered = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]()
    val l = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = seen.add(e)
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try { body; Bridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(l)
    val events = seen.asScala.toSeq
    val ends = events.collect { case e: SparkListenerJobEnd => e.jobId -> e.time }.toMap
    val tasks = events.collect {
      case e: SparkListenerTaskEnd if e.taskMetrics != null => e.taskMetrics
    }
    Metered(
      events.collect { case e: SparkListenerJobStart => Job(e.jobId,
        Option(e.properties).getOrElse(new Properties), e.time, ends.getOrElse(e.jobId, -1L)) },
      events.collect { case SparkListenerStageCompleted(i) =>
        val m = i.taskMetrics
        Stage(i.stageId, i.name.take(60), i.numTasks, m.executorRunTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten) },
      tasks.map(_.shuffleWriteMetrics.bytesWritten).sum,
      tasks.map(_.inputMetrics.recordsRead).sum)
  }
}
