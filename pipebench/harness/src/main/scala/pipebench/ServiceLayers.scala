package pipebench

import graft.pipeline.{CheckpointStore, PInt, PStr}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.concurrent.ExecutionContext

/** Completion signal per processing id: a client registers before it
  * sends its request, and the checkpoint store fires it the moment the
  * run's `status_*` document has been written. */
final class Landing {
  private final class Waiter { val latch = new CountDownLatch(1); @volatile var at = 0L }
  private val waiters = new ConcurrentHashMap[String, Waiter]()

  def expect(pid: String): Unit = waiters.put(pid, new Waiter)

  def landed(pid: String, atNs: Long): Unit =
    Option(waiters.get(pid)).foreach { w => w.at = atNs; w.latch.countDown() }

  /** nanoTime at which the status landed, or None on timeout. */
  def await(pid: String, timeoutMs: Long): Option[Long] = {
    val w = waiters.get(pid)
    val ok = w.latch.await(timeoutMs, TimeUnit.MILLISECONDS)
    waiters.remove(pid)
    if (ok) Some(w.at) else None
  }
}

/** The checkpoint layer as the engine sees it, with every call timed.
  * Passed to the engine through `Runner.RunConfig`. Outputs of the
  * `watched` block slugs are kept in memory so each op's final output
  * can be checked without reading storage again. */
final class TimedCheckpointStore(root: String, trace: Trace, landing: Landing,
    watched: Set[String]) extends CheckpointStore(root) {
  private val kept = new ConcurrentHashMap[(String, String), Seq[(Int, Array[Byte])]]()

  /** Last output of a watched block of `pid`, removed on read. */
  def take(pid: String, slug: String): Option[Seq[(Int, Array[Byte])]] =
    Option(kept.remove((pid, slug)))

  private def timed[T](name: String, pid: String, attrs: => Map[String, graft.pipeline.PValue])(
      f: => T): T = {
    AdmissionContext.bind(pid)
    val t0 = System.nanoTime()
    val r = f
    trace.add(name, s"pid:$pid", t0, System.nanoTime(), parent = AdmissionContext.currentRun,
      attrs = attrs)
    r
  }

  override def saveOutput(pipeline: String, processingId: String, blockSlug: String,
      rows: Seq[(Int, Array[Byte])]): Seq[(String, String)] = {
    if (watched(blockSlug)) kept.put((processingId, blockSlug), rows)
    timed("checkpoint.save_output", processingId, Map(
        "files" -> PInt(rows.size.toLong * roots.size),
        "bytes" -> PInt(rows.map(_._2.length.toLong).sum * roots.size))) {
      super.saveOutput(pipeline, processingId, blockSlug, rows)
    }
  }

  override def saveDocument(pipeline: String, processingId: String, name: String,
      content: String): Seq[(String, String)] = {
    val r = timed("checkpoint.save_document", processingId, Map(
        "files" -> PInt(roots.size.toLong),
        "bytes" -> PInt(content.getBytes("UTF-8").length.toLong * roots.size))) {
      super.saveDocument(pipeline, processingId, name, content)
    }
    if (name.startsWith("status_")) landing.landed(processingId, System.nanoTime())
    r
  }

  override def loadOutput(pipeline: String, processingId: String,
      blockSlug: String): Option[Seq[(Int, Array[Byte])]] =
    timed("checkpoint.load_output", processingId, Map.empty) {
      super.loadOutput(pipeline, processingId, blockSlug)
    }

  override def readDocuments(pipeline: String, processingId: String,
      prefix: String): Seq[(String, String)] =
    timed("checkpoint.read_documents", processingId, Map("prefix" -> PStr(prefix))) {
      super.readDocuments(pipeline, processingId, prefix)
    }
}

/** The `ExecutionContext` handed to `PipelineService`: each submitted
  * run is timed from submission to start (admission wait) and from
  * start to end (the Runner's run). The run's Spark jobs are tagged
  * `run:<id>` and its checkpoint calls name the run as their parent. */
final class AdmissionContext(underlying: ExecutionContext, trace: Trace,
    sc: org.apache.spark.SparkContext) extends ExecutionContext {
  override def execute(r: Runnable): Unit = {
    val submitted = System.nanoTime()
    val id = trace.nextId()
    underlying.execute { () =>
      val started = System.nanoTime()
      AdmissionContext.run.set(id)
      sc.setLocalProperty(SparkProbe.OpKey, s"run:$id")
      try r.run()
      finally {
        sc.setLocalProperty(SparkProbe.OpKey, null)
        AdmissionContext.run.remove()
        val pid = AdmissionContext.pidOf.remove(id)
        val op = if (pid == null) s"run:$id" else s"pid:$pid"
        trace.add("api.admission_wait", op, submitted, started, parent = 0L)
        trace.add("runner.run", op, started, System.nanoTime(), id = id)
      }
    }
  }
  override def reportFailure(t: Throwable): Unit = underlying.reportFailure(t)
}

object AdmissionContext {
  private val run = new ThreadLocal[java.lang.Long]
  private val pidOf = new ConcurrentHashMap[java.lang.Long, String]()

  /** Span id of the run executing on this thread (0 outside a run). */
  def currentRun: Long = Option(run.get).map(_.longValue).getOrElse(0L)

  /** Tell the current run which processing it serves. */
  def bind(pid: String): Unit = Option(run.get).foreach(id => pidOf.putIfAbsent(id, pid))
}
