package pipebench

import graft.pipeline.{PInt, PNum, PStr, PValue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark scheduler layer, seen through Spark's public listener APIs.
  *
  * Jobs carry the `pipebench.op` local property of the thread that
  * submitted them; stages inherit it from their job. Each completed job
  * and stage becomes a span, each finished SQL execution a `spark.plan`
  * record with its planning-phase time. The report resolves SQL
  * executions to ops through the jobs that share their execution id, or
  * by start time when an execution ran no job.
  */
final class SparkProbe(trace: Trace) extends SparkListener with QueryExecutionListener {
  private case class JobInfo(op: String, exec: Long, startMs: Long, tables: Boolean)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stageJob =
    new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
  private val execStartMs =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val info = JobInfo(
      prop(SparkProbe.OpKey).getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      e.time,
      e.stageInfos.exists(_.name.contains("Tables.scala")))
    jobs.put(e.jobId, info)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      trace.add("spark.job", j.op, trace.fromWallMs(j.startMs),
        trace.fromWallMs(e.time), attrs = Map(
          "job" -> PInt(e.jobId), "exec" -> PInt(j.exec),
          "tables" -> PInt(if (j.tables) 1 else 0)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val job = Option(stageJob.get(s.stageId)).map(_.intValue)
    val op = job.flatMap(j => Option(jobs.get(j))).map(_.op).getOrElse("")
    val m = s.taskMetrics
    val attrs: Map[String, PValue] =
      Map("job" -> PInt(job.map(_.toLong).getOrElse(-1L)),
        "site" -> PStr(s.name), "tasks" -> PInt(s.numTasks.toLong)) ++
      (if (m == null) Map.empty else Map(
        "run_ms" -> PInt(m.executorRunTime),
        "cpu_ms" -> PNum(m.executorCpuTime / 1e6),
        "shuffle_write_b" -> PInt(m.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_b" -> PInt(m.shuffleReadMetrics.totalBytesRead),
        "spill_b" -> PInt(m.diskBytesSpilled),
        "output_b" -> PInt(m.outputMetrics.bytesWritten)))
    for (start <- s.submissionTime; end <- s.completionTime)
      trace.add("spark.stage", op, trace.fromWallMs(start), trace.fromWallMs(end),
        attrs = attrs)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStartMs.put(s.executionId, s.time)
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    plan(qe)

  private def plan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    val planningMs = phases.map(_.durationMs).sum
    val startMs = Option(execStartMs.get(qe.id)).map(_.longValue)
      .getOrElse(if (phases.isEmpty) System.currentTimeMillis()
        else phases.map(_.startTimeMs).min)
    val at = trace.fromWallMs(startMs)
    trace.add("spark.plan", "", at, at, attrs = Map(
      "exec" -> PInt(qe.id), "planning_ms" -> PInt(planningMs)))
  }
}

object SparkProbe {
  /** Local property naming the op a thread's Spark jobs belong to. */
  val OpKey = "pipebench.op"

  def attach(spark: SparkSession, trace: Trace): SparkProbe = {
    val p = new SparkProbe(trace)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Spark's listener bus is asynchronous; give it time to deliver the
    * last events before the trace is written. */
  def drain(): Unit = Thread.sleep(1500)
}
