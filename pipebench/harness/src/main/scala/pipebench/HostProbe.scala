package pipebench

import java.util.concurrent.ConcurrentLinkedQueue

/** A fixed amount of CPU work that shares no code with the program:
  * every thread fills an array from a xorshift generator and sorts it,
  * round after round. The time each thread takes for it says how fast
  * this host runs at the moment it is taken. The workloads take one
  * between the window's ops, while no op is in flight and the JVM is
  * quiet, so `run.py` can put the run's times on the scale of a host
  * that runs at a fixed reference speed. */
object HostProbe {
  private val Len = 1 << 15
  private val Rounds = 8
  private val threads = Runtime.getRuntime.availableProcessors
  private val taken = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  private def work(seed: Long): Long = {
    val a = new Array[Long](Len)
    var x = seed | 1L
    var acc = 0L
    var r = 0
    while (r < Rounds) {
      var i = 0
      while (i < Len) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
      java.util.Arrays.sort(a)
      acc += a(Len / 2)
      r += 1
    }
    acc
  }

  /** Time (ns) of one probe: as many threads as the host has cores work
    * at once, each timing its own share, and the probe is the mean of
    * their times. The mean, not the wall time of the slowest: when other
    * tenants take a core, the slowest thread waits for all of it, while
    * the program, whose threads are not all busy all the time, loses
    * about the mean. */
  private def once(): Long = {
    val sink = new java.util.concurrent.atomic.AtomicLong
    val spent = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until threads).map(i => new Thread(() => {
      val t0 = System.nanoTime()
      sink.addAndGet(work(i + 1L))
      spent.addAndGet(System.nanoTime() - t0)
      ()
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    spent.get / threads
  }

  /** Untimed probes that let the JIT compile `work` before any is timed. */
  def warm(): Unit = (1 to 5).foreach(_ => once())

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val QuietMs = 50L
  private val MaxWaitMs = 1000L

  /** Wait until this JVM is quiet: under 5% of one core used over
    * `QuietMs`, or `MaxWaitMs` have passed. The JIT, the garbage
    * collector and Spark's own threads keep working for a while after an
    * op, and a probe that ran with them would measure them, not the host. */
  private def quiet(): Unit = {
    val deadline = System.nanoTime() + MaxWaitMs * 1000000L
    var busy = true
    while (busy && System.nanoTime() < deadline) {
      val c0 = os.getProcessCpuTime
      Thread.sleep(QuietMs)
      busy = os.getProcessCpuTime - c0 > QuietMs * 1000000L / 20
    }
  }

  /** Wait for quiet, then take three probes and keep the middle one, so
    * a burst during one probe does not count. Kept as (start of the wait,
    * end, middle probe in ns), on the `System.nanoTime` axis. */
  def take(): Unit = {
    val w0 = System.nanoTime()
    quiet()
    val mid = (1 to 3).map(_ => once()).sorted.apply(1)
    taken.add((w0, System.nanoTime(), mid))
  }

  /** Run `ops` one after another, with a probe before every `every`-th. */
  def between[T](ops: Seq[T], every: Int)(run: T => OpRecord): Seq[OpRecord] =
    ops.zipWithIndex.map { case (op, i) => if (i % every == 0) take(); run(op) }

  def intervals: Seq[(Long, Long, Long)] =
    scala.jdk.CollectionConverters.IteratorHasAsScala(taken.iterator).asScala.toSeq
}
