package graft.perfbench

import java.lang.management.ManagementFactory

/** The host stamp on every record, so a run on a 4-core host is never read
  * against one on a 32-core host: processor count, a fixed spin-loop
  * calibration, and CPU steal over the measured passes. */
object Host {

  def nproc: Int = Runtime.getRuntime.availableProcessors

  /** CPU seconds this JVM has used, all its threads together. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  @volatile private var sink = 0L

  /** Millions of iterations per second of a fixed single-threaded
    * xorshift loop; the median of five rounds. */
  def spinMops(): Double = {
    val iters = 20000000
    val rates = (0 until 5).map { _ =>
      var x = 88172645463325252L
      val t0 = System.nanoTime()
      var i = 0
      while (i < iters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      val s = (System.nanoTime() - t0) / 1e9
      sink += x
      iters / s / 1e6
    }
    Stats.median(rates)
  }

  /** Cumulative (steal, total) jiffies of all CPUs from /proc/stat; zeros
    * where the file does not exist. */
  def cpuTicks(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) return (0L, 0L)
    val src = scala.io.Source.fromFile(f)
    try {
      val cpu = src.getLines().find(_.startsWith("cpu ")).getOrElse("")
      val v = cpu.split("\\s+").drop(1).take(8).map(_.toLong)
      if (v.length < 8) (0L, 0L) else (v(7), v.sum)
    } finally src.close()
  }
}

/** Steal share of CPU time, summed over the intervals passed to `around`;
  * `lastFrac` is that of the latest interval alone. */
final class StealMeter {
  private var steal = 0L
  private var total = 0L
  var lastFrac = 0.0
  def around[T](body: => T): T = {
    val (s0, t0) = Host.cpuTicks()
    try body
    finally {
      val (s1, t1) = Host.cpuTicks()
      steal += s1 - s0; total += t1 - t0
      lastFrac = if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0
    }
  }
  def frac: Double = if (total <= 0) 0.0 else steal.toDouble / total
}

/** Heap still in use right after a full collection, taken at the end of
  * each measured pass (outside its timing); `peakMb` is the largest such
  * reading since `reset`. Young-collection readings would include old-gen
  * garbage awaiting a marking cycle and vary with its timing. The second
  * collection frees the cached blocks Spark's ContextCleaner released after
  * the first one found their Datasets unreachable. */
object HeapWatch {
  private var peak = 0L

  def reset(): Unit = peak = 0L

  def afterPass(): Unit = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / 1048576.0
}
