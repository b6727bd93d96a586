package pipebench

import graft.pipeline._

/** One measured op: its interval on the trace's time axis (ns), whether
  * the program reported success, and what it produced, for the output
  * check made by the caller. */
final case class OpRecord(id: String, kind: String, startNs: Long, endNs: Long,
    ok: Boolean, fields: Map[String, PValue]) {
  def toJson: PValue = PObj(Map(
    "id" -> PStr(id), "kind" -> PStr(kind), "start" -> PInt(startNs),
    "end" -> PInt(endNs), "ok" -> PBool(ok)) ++ fields)
}

/** `probes` holds the host probes taken between the window's ops and
  * after it: the interval each took (its wait for quiet included), on the
  * same axis as the ops, and its time (ns). Wall times are epoch
  * microseconds. */
final case class Report(warmupEndWallUs: Long, windowStartNs: Long,
    windowEndNs: Long, liveHeapMb: Double, ops: Seq[OpRecord],
    probes: Seq[(Long, Long, Long)] = Nil, sessionWallUs: Long = 0L) {
  def toJson: String = Json.render(PObj(Map(
    "session_wall_us" -> PInt(sessionWallUs),
    "warmup_end_wall_us" -> PInt(warmupEndWallUs),
    "probes" -> PArr(probes.map { case (s, e, ns) => PArr(Seq(PInt(s), PInt(e), PInt(ns))) }),
    "window_start" -> PInt(windowStartNs),
    "window_end" -> PInt(windowEndNs),
    "live_heap_mb" -> PNum(liveHeapMb),
    "ops" -> PArr(ops.sortBy(_.startNs).map(_.toJson)))))
}

object Report {
  /** Warm up, then run the measured window; the heap is read after a
    * forced GC right at the window's end. The workloads take a host
    * probe every few ops of the window (`HostProbe.between`); one more
    * follows it. */
  def measure(trace: Trace, warmup: () => Seq[OpRecord],
      window: () => Seq[OpRecord]): Report = {
    warmup()
    val warmEnd = java.time.Instant.now()
    val t0 = System.nanoTime()
    val ops = window()
    val t1 = System.nanoTime()
    HostProbe.take()
    Report(wallUs(warmEnd), trace.rel(t0), trace.rel(t1), liveHeapMb(), ops)
  }

  def wallUs(t: java.time.Instant): Long = t.getEpochSecond * 1000000L + t.getNano / 1000

  /** Smallest heap in use over three forced full GCs. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(50)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }
}
