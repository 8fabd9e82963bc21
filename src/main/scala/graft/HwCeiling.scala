package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Hardware-ceiling probe: per-thread register-only scalar FMA and
  * 512-bit SIMD throughput, and per-thread DRAM read bandwidth, at two
  * thread counts (`sample`). The compute kernels touch no memory and
  * allocate nothing, so any per-thread drop when threads increase is the
  * BOX (all-core frequency scaling + hypervisor steal + shared-core
  * contention), not the workload.
  *
  * `Bench` samples it before and after its N and 4N legs: each leg
  * efficiency is reported raw AND normalized by the scaling the box
  * offered in the same window (`efficiency_vs_hw`). On a real N -> 4N
  * EXECUTOR scale-out each node brings its own cores, caches and memory
  * bus, so the box-level ceiling does not transfer — the normalized figure
  * is the cluster-faithful estimate, the raw figure the in-sandbox
  * observation (both are kept). perfbench records `sample(1, nproc)`
  * around a traced run and `quickGflops1` before an untraced one.
  */
object HwCeiling {

  private val sink = new AtomicLong

  /** 16 flops per iteration, all in registers */
  private def flopKernel(iters: Long): Double = {
    var x = 1.0; var y = 1.1; var z = 1.2; var w = 1.3
    var i = 0L
    while (i < iters) {
      x = x * 1.000001 + 0.5; y = y * 0.999999 + 0.25
      z = z * 1.0000001 + 0.125; w = w * 0.9999999 + 0.0625
      x = x * 0.999999 - 0.5; y = y * 1.000001 - 0.25
      z = z * 0.9999999 - 0.125; w = w * 1.0000001 - 0.0625
      i += 1
    }
    x + y + z + w
  }

  /** (wall seconds, summed thread-CPU seconds) of `work(thread index)` on
    * n threads.
    * Thread CPU time (ThreadMXBean) excludes hypervisor steal and
    * descheduling — a stolen-away thread accrues wall time but not CPU
    * time — so flops/cpuSec across thread counts isolates the CLOCK
    * component of the ceiling (all-core frequency scaling), steal-free.
    */
  private def onThreads(n: Int)(work: Int => Unit): (Double, Double) = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(n)
    val cpuNs = new AtomicLong
    for (t <- 0 until n) pool.execute { () =>
      start.await()
      val c0 = bean.getCurrentThreadCpuTime
      work(t)
      cpuNs.addAndGet(bean.getCurrentThreadCpuTime - c0)
      done.countDown()
    }
    val t0 = System.nanoTime()
    start.countDown()
    done.await()
    val dt = (System.nanoTime() - t0) / 1e9
    pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS)
    (dt, cpuNs.get / 1e9)
  }

  /** best-of-3 ~0.6 s samples -> (wall-based per-thread GFLOPS,
    * GFLOPS per thread-CPU-second) at `nt` threads. The second figure's
    * high/low ratio is the pure clock ratio (see onThreads).
    */
  private def gflopsPerThread2(nt: Int): (Double, Double) = {
    val iters = 150000000L
    sink.addAndGet(flopKernel(iters / 8).toLong) // JIT
    val runs = (1 to 3).map(_ =>
      onThreads(nt)(_ => sink.addAndGet(flopKernel(iters).toLong)))
    (iters * 16.0 / runs.map(_._1).min / 1e9,
      iters * 16.0 * nt / runs.map(_._2).min / 1e9)
  }

  /** 512-bit SIMD mul/add kernel, registers only — triggers the same
    * AVX-512 all-core frequency license as the inference GEMM, which the
    * scalar-double kernel above does not. 8 vectors x 2 flops x lanes
    * per iteration.
    *
    * It measures LATENCY, not throughput: the four accumulators form
    * dependent mul -> add chains (a3 even reads the a0 of the same
    * iteration), and mul and add are issued separately, with no FMA. A
    * GEMM register tile runs independent FMA chains and overlaps those
    * latencies, so it can beat this "ceiling": on a 4-vCPU AVX-512 Xeon
    * (JDK 17) the probe read 38-42 GF/s per thread while the 4x4-vector
    * FMA tile of `VectorGemm.convDirect`, run as a plain GEMM, reached
    * 67-87 GF/s per thread at the conv shapes 384x900x256, 384x768x128 and
    * 384x384x64. A
    * `kernel.simd_ceiling_frac` near 1 thus does not mean the kernel is at
    * the machine's peak.
    */
  private def simdKernel(iters: Long): Double = {
    import jdk.incubator.vector.FloatVector
    val sp = FloatVector.SPECIES_PREFERRED
    var a0 = FloatVector.broadcast(sp, 1.000001f)
    var a1 = FloatVector.broadcast(sp, 0.999999f)
    var a2 = FloatVector.broadcast(sp, 1.0000001f)
    var a3 = FloatVector.broadcast(sp, 0.9999999f)
    val m0 = FloatVector.broadcast(sp, 0.9999f)
    val m1 = FloatVector.broadcast(sp, 1.0001f)
    var i = 0L
    while (i < iters) {
      a0 = a0.mul(m0).add(a1); a1 = a1.mul(m1).add(a2)
      a2 = a2.mul(m0).add(a3); a3 = a3.mul(m1).add(a0)
      i += 1
    }
    a0.add(a1).add(a2).add(a3).reduceLanes(jdk.incubator.vector.VectorOperators.ADD)
  }

  /** (wall-based per-thread SIMD GFLOPS, SIMD GFLOPS per thread-CPU-second)
    * at `nt` threads (best-of-3); (0,0) if the Vector API module is absent.
    * The cpu-based ratio tracks the AVX-512 all-core frequency license
    * curve with steal excluded.
    */
  private def simdGflopsPerThread2(nt: Int): (Double, Double) = {
    val lanes =
      try jdk.incubator.vector.FloatVector.SPECIES_PREFERRED.length()
      catch { case _: Throwable => return (0.0, 0.0) }
    val iters = 40000000L
    sink.addAndGet(simdKernel(iters / 8).toLong)
    val runs = (1 to 3).map(_ =>
      onThreads(nt)(_ => sink.addAndGet(simdKernel(iters).toLong)))
    (iters * 8.0 * lanes / runs.map(_._1).min / 1e9,
      iters * 8.0 * lanes * nt / runs.map(_._2).min / 1e9)
  }

  // one shared read-only streaming array, ~512 MB: far beyond L3, so
  // stripe re-reads come from DRAM; allocated lazily, reused across samples
  private lazy val bwArr: Array[Float] = {
    val a = new Array[Float](128 * 1024 * 1024)
    var i = 0
    while (i < a.length) { a(i) = (i & 1023) * 0.001f; i += 32 } // pre-touch
    a
  }

  private def bwSumStripe(lo: Int, hi: Int): Double = {
    var t0 = 0.0; var t1 = 0.0; var t2 = 0.0; var t3 = 0.0
    var i = lo
    while (i + 3 < hi) {
      t0 += bwArr(i); t1 += bwArr(i + 1); t2 += bwArr(i + 2); t3 += bwArr(i + 3)
      i += 4
    }
    t0 + t1 + t2 + t3
  }

  /** per-thread DRAM read bandwidth (GB/s) at `nt` threads: each thread
    * streams a disjoint stripe of the shared array, `nt` passes, so bytes
    * per thread are constant across thread counts (strong-scaling shape).
    */
  private def bwGBpsPerThread(nt: Int): Double = {
    val stripe = bwArr.length / nt
    sink.addAndGet(bwSumStripe(0, math.min(bwArr.length, 1 << 20)).toLong) // JIT
    val best = (1 to 3).map { _ =>
      onThreads(nt) { t =>
        var r = 0
        var s = 0.0
        while (r < nt) { s += bwSumStripe(t * stripe, (t + 1) * stripe); r += 1 }
        sink.addAndGet(s.toLong)
      }._1
    }.min
    nt.toLong * stripe * 4.0 / best / 1e9
  }

  /** Per-thread scalar and SIMD GF/s (wall), DRAM GB/s, and scalar and
    * SIMD GF per thread-CPU-second (steal-free: their high/low ratio is
    * the all-core clock ratio), at the low and high thread counts. */
  final case class Sample(perThreadLow: Double, perThreadHigh: Double,
                          simdLow: Double, simdHigh: Double,
                          bwLow: Double, bwHigh: Double,
                          cpuLow: Double, cpuHigh: Double,
                          simdCpuLow: Double, simdCpuHigh: Double) {
    /** scalar-compute scaling efficiency the box offered low -> high */
    def eff: Double = perThreadHigh / perThreadLow
    /** 512-bit-SIMD scaling efficiency (the GEMM workload's frequency
      * curve); falls back to scalar if the Vector module is absent */
    def simdEff: Double = if (simdLow > 0) simdHigh / simdLow else eff
  }

  /** Quick single-thread scalar-FMA probe (~0.7 s, best-of-2), for runs
    * too short to pay for `sample`. A co-tenant epoch that evades
    * /proc/stat steal accounting still collapses this number, because a
    * descheduled or frequency-starved core simply executes fewer register
    * FMAs per wall second. Purely external: no Spark, no memory traffic,
    * independent of the measured workload.
    */
  def quickGflops1(): Double = {
    val iters = 60000000L
    sink.addAndGet(flopKernel(iters / 8).toLong) // JIT
    val best = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      sink.addAndGet(flopKernel(iters).toLong)
      (System.nanoTime() - t0) / 1e9
    }.min
    iters * 16.0 / best / 1e9
  }

  /** one bracketing sample at the two leg thread-counts (~8 s) */
  def sample(low: Int, high: Int): Sample = {
    val (sLo, sLoCpu) = gflopsPerThread2(low)
    val (sHi, sHiCpu) = gflopsPerThread2(high)
    val (vLo, vLoCpu) = simdGflopsPerThread2(low)
    val (vHi, vHiCpu) = simdGflopsPerThread2(high)
    Sample(sLo, sHi, vLo, vHi,
      bwGBpsPerThread(low), bwGBpsPerThread(high),
      sLoCpu, sHiCpu, vLoCpu, vHiCpu)
  }
}
