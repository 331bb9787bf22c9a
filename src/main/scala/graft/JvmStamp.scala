package graft

/** JVM-state evidence for the bench artifacts (round-12 addition).
  *
  * Round 11 falsified the loadavg-noise theory: the judge's quiet-box
  * run (ambient 0.98) measured per-entry CPU seconds up to 3.2x the
  * round-9 values on byte-identical code and data. CPU inflation on a
  * quiet box can only come from inside the JVM (GC threads and JIT
  * recompilation both bill to process CPU) or from host-clock drift.
  * These stamps separate the three:
  *
  *  - `calibrate()` — a fixed-work single-thread xorshift loop whose
  *    wall time measures HOST throughput; identical work every round,
  *    so cross-round ratios of this number expose host drift directly.
  *    (The loop JIT-compiles in its first iterations and stays
  *    compiled, so it is insensitive to later code-cache pressure —
  *    by design: it isolates the host variable.)
  *  - `gcMillis()` / `jitMillis()` — cumulative GC and JIT-compiler
  *    time; per-query deltas show which entries paid collector or
  *    compiler tax inside their timed window.
  *  - `codeCacheUsed()` — bytes used across the CodeHeap pools out of
  *    `codeCacheMax()` reserved (JDK default 240 MB). A full code
  *    cache disables the JIT ("CodeCache is full. Compiler has been
  *    disabled.") and hot loops fall back to the interpreter — the
  *    one failure mode that inflates CPU non-uniformly and grows with
  *    the number of distinct codegen'd plans in the run, which is the
  *    round-11 signature (167 -> 182 entries).
  */
object JvmStamp {

  /** Fixed-work calibration: `iters` xorshift64* steps, single
    * thread. Returns wall seconds; the checksum is folded into the
    * low bits of the return only to defeat dead-code elimination. */
  def calibrate(iters: Long = 800_000_000L): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    // fold the checksum in below measurement precision so the loop
    // cannot be eliminated (x is always nonzero for a nonzero seed)
    if (x == 0) secs + 1e-12 else secs
  }

  /** Parallel fixed-work calibration: `threads` concurrent copies of
    * the single-thread probe loop; returns wall seconds for ALL to
    * finish. On a healthy host with threads ≤ free cores this ≈ the
    * single-thread probe; under parallel-throughput degradation
    * (hypervisor steal, sibling contention) it inflates while the
    * single-thread probe stays flat — exactly the host mode that cost
    * rounds 14-15 manual cross-commit forensics. The (cal, cal_par)
    * pair makes that signature mechanical: cal flat + cal_par
    * inflated = host state, not code. */
  def calibratePar(threads: Int =
        math.min(8, Runtime.getRuntime.availableProcessors()),
      iters: Long = 800_000_000L): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { k =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + k
        var i = 0L
        while (i < iters) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          i += 1
        }
        sink.addAndGet(x) // defeat dead-code elimination
        ()
      })
      th.setDaemon(true)
      th.start()
      th
    }
    ts.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    if (sink.get() == Long.MinValue) secs + 1e-12 else secs
  }

  /** [1m, 5m, 15m] host load averages (Linux); empty elsewhere. */
  def loadAvg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Seq.empty }

  /** Cumulative CPU nanoseconds of THIS JVM process (all threads —
    * executor pool included, which is the point: a query's cpu delta
    * measures work actually scheduled, unaffected by other processes);
    * -1 where the platform bean is unavailable. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def jitMillis(): Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime else -1L
  }

  private def codePools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
  }

  def codeCacheUsed(): Long = codePools.map(_.getUsage.getUsed).sum
  def codeCacheMax(): Long = codePools.map(_.getUsage.getMax).sum

  def heapUsedMb(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed >> 20
  def heapMaxMb(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getMax >> 20

  /** One compact JSON object with every JVM-state counter, for
    * embedding into bench artifacts at named checkpoints. */
  def json(): String =
    s"""{"gc_ms":${gcMillis()},"jit_ms":${jitMillis()},""" +
      s""""codecache_used_mb":${codeCacheUsed() >> 20},""" +
      s""""codecache_max_mb":${codeCacheMax() >> 20},""" +
      s""""heap_used_mb":${heapUsedMb()},"heap_max_mb":${heapMaxMb()}}"""
}
