package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE JSON line:
  *  - value = headline triples/sec of the full KG pipeline (sentenize ->
  *    fused NER/morph/syntax inference -> triples -> linking ->
  *    canonicalization) at the high parallelism level
  *  - queries = per-query wall seconds for the whole SparkEntry catalog
  *  - scaling = the same pipeline at N and 4N EXECUTORS (separate JVMs via
  *    Spark local-cluster — the closest in-sandbox analogue of a real
  *    multi-executor cluster; falls back to local[N] threads if
  *    local-cluster cannot spawn) + efficiency = thr(4N)/(4*thr(N))
  */
/** Per-JVM latch for gcExecutors: tasks land on executor JVMs in
  * unpredictable multiplicity; the first task of a (driver-issued) nonce
  * runs the full GC, the rest no-op. Lives per-JVM by classloading.
  */
private[graft] object GcNonce {
  val next = new java.util.concurrent.atomic.AtomicLong(0)
  val last = new java.util.concurrent.atomic.AtomicLong(-1)
}

object Bench {

  private def classesPath: String =
    new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      .getAbsolutePath

  /** Kernel-reported hypervisor steal (/proc/stat `cpu` col 8, jiffies).
    * This box loses CPU to co-tenants in minutes-long epochs (~17
    * core-hours over the last day at round-4 time); a leg that lands in
    * one measures the HOST, not the code. Sampling steal around each
    * measured window gives an EXTERNAL contamination covariate — leg
    * retries key on it, never on the reported metric (the round-3 ADVICE
    * optional-stopping critique), and every attempt's steal share is
    * recorded in the artifact.
    */
  private object Steal {
    val ncpu: Int = Runtime.getRuntime.availableProcessors()
    def jiffies: Long =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next().trim.split("\\s+")(8).toLong
        finally src.close()
      } catch { case _: Throwable => -1L }
    /** stolen fraction of whole-box CPU capacity over the window */
    def frac(j0: Long, j1: Long, wallSec: Double): Double =
      if (j0 < 0 || j1 < 0 || wallSec <= 0) 0.0
      else ((j1 - j0) / 100.0) / (wallSec * ncpu)
  }

  private def clusterSession(workers: Int, coresPerWorker: Int): SparkSession = {
    System.setProperty("spark.test.home", sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    val s = SparkSession.builder()
      .master(s"local-cluster[$workers,$coresPerWorker,6144]")
      .appName(s"graft-bench-${workers}x$coresPerWorker")
      .config("spark.executor.extraClassPath", classesPath)
      // size each executor's GC/JIT pools for ITS core share, not the box.
      // NewRatio=1 (young gen 1/2 heap instead of 1/3): the pipeline's
      // garbage is short-lived row churn, and the default young gen made
      // the 32-core leg spend ~18% of task time in GC (gc_frac_high,
      // BENCH_r03) — ClusterProbe A/B: 8x4 leg 5.0 s -> 3.5 s best-of-2,
      // 2x4 leg unchanged; G1 and 10 GiB heaps were both worse/neutral.
      // Round 4: FIXED generation sizing (adaptive off) + pre-touch —
      // ParallelGC's adaptive resizing stabilizes only during the first
      // full-depth run, billing resize/zeroing GCs to whatever runs first
      // (ClusterProbe rep1 4.3 s/gc 9 s vs rep2 3.4 s/gc 2 s); fixed
      // sizes + a full-size warmup (see measure) pin steady state.
      .config("spark.executor.extraJavaOptions",
        s"-XX:ActiveProcessorCount=$coresPerWorker -XX:+UseParallelGC -XX:NewRatio=1" +
          " -XX:-UseAdaptiveSizePolicy -XX:SurvivorRatio=8 -XX:+AlwaysPreTouch")
      .config("spark.sql.shuffle.partitions", (workers * coresPerWorker).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** end-to-end pipeline: returns (triples, seconds) */
  private def pipeline(spark: SparkSession, nDocs: Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val docs = graft.sources.Docs.russianDocs(spark, nDocs)
    val parsed = graft.nlp.Pipeline.parse(graft.sources.Docs.sentences(docs),
      SparkEntry.packBc(spark))
    val canon = graft.kg.Kg.linkCanonicalize(spark, graft.kg.Kg.triples(parsed))
    val n = canon.count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  // one seeded reference-dims pack per session (navec 250K x 300d x 100q,
  // CNN [256,128,64] — the honest production-FLOPs workload)
  private val refPackCache =
    new graft.runtime.SessionCache[Unit, org.apache.spark.broadcast.Broadcast[graft.pack.ModelPack]]
  private def refPackBc(s: SparkSession) =
    refPackCache(s, ())(s.sparkContext.broadcast(graft.pack.SynthPack.buildRandom()))

  /** NLP inference at production model dims: returns (sentences, seconds).
    * Parse-only count: at these dims the forward pass is >99% of pipeline
    * cost (MicroBench: extract 0.10s vs ~25s forwards per 100k docs), and
    * random-weight parses would make triple counts meaningless — sents/s
    * is the honest metric for this leg.
    */
  private def refPipeline(spark: SparkSession, nDocs: Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val docs = graft.sources.Docs.russianDocs(spark, nDocs)
    val parsed = graft.nlp.Pipeline.parse(graft.sources.Docs.sentences(docs),
      refPackBc(spark))
    val n = parsed.count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-session fixed-cost probe: a 1000-doc run has the SAME stage/task
    * structure as the big runs (the generator partitions by default
    * parallelism, not by row count) but negligible compute, so its wall
    * time ≈ per-job scheduling + dispatch + collect overhead. Efficiency
    * computed on (t − fixed) is the number that survives to a real
    * 10^12-doc job, where per-job overhead amortizes to zero; the raw
    * seconds AND the probe are both reported so nothing is hidden.
    */
  private def fixedCost(run: Long => (Long, Double)): Double =
    (1 to 2).map(_ => run(1000L)._2).min

  /** Sums executor task metrics across the session — wall-clock efficiency
    * on this box conflates OUR scaling with hypervisor/co-tenant steal, so
    * each leg also records the CPU SECONDS the measured run actually
    * consumed. cpu(N)/cpu(4N) is the code's work-invariance across
    * parallelism (1.0 = the 4N plan does zero extra work — the component
    * of scaling a real N->4N cluster inherits), and cpuSec/runSec is the
    * on-CPU fraction of task time, which quantifies the steal directly.
    */
  private final class CpuTally extends org.apache.spark.scheduler.SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }
  /** (result, cpuSec, runSec, gcSec) of `work`, from task metrics deltas.
    * gcSec decomposes the off-CPU share: run − cpu = GC pauses (our own
    * allocation pressure, scales with OUR code) + involuntary descheduling
    * (host steal / thread oversubscription — a co-tenancy artifact a real
    * cluster node does not inherit). The listener bus is async; the
    * post-count grace sleep bounds the loss to events still in flight
    * after the action returned (empirically none — local and
    * local-cluster buses drain in single-digit ms).
    */
  private def tallied[A](t: CpuTally)(work: => A): (A, Double, Double, Double) = {
    val c0 = t.cpuNs.get; val r0 = t.runMs.get; val g0 = t.gcMs.get
    val a = work
    Thread.sleep(300)
    (a, (t.cpuNs.get - c0) / 1e9, (t.runMs.get - r0) / 1e3,
      (t.gcMs.get - g0) / 1e3)
  }

  /** Force ONE full GC on every executor (and the driver) so major
    * collections triggered by WARMUP/probe garbage do not land inside the
    * measured window — A/B'd at +15-20% on the min high-leg time
    * (ClusterProbe GRAFT_GC_BETWEEN runs, BASELINE.md round-3e). A real
    * long-running job pays steady-state GC, which the measured run still
    * includes; this only stops one run's garbage from billing the next.
    * The nonce guard keeps it to one System.gc PER JVM per call: the old
    * form ran one full GC per TASK (2x parallelism tasks -> ~8 sequential
    * full GCs per executor, 10-20 s of pure hygiene per high leg).
    */
  private def gcExecutors(s: SparkSession): Unit = {
    val n = math.max(8, s.sparkContext.defaultParallelism * 2)
    val nonce = GcNonce.next.incrementAndGet()
    s.sparkContext.parallelize(1 to n, n).foreach { _ =>
      if (GcNonce.last.getAndSet(nonce) != nonce) System.gc()
    }
    System.gc()
  }

  private def measureRef(s: SparkSession, tally: CpuTally, nDocs: Long,
                         reps: Int = 1): (Long, Double, Double, Double, Double, Double) = {
    refPipeline(s, nDocs) // warmup: one untimed FULL-SIZE run (see measure)
    val f = fixedCost(refPipeline(s, _))
    gcExecutors(s)
    // main legs: 1 rep; min taken ACROSS time-separated sessions.
    // mid legs pass reps=2 (see midPair) — min WITHIN the session too.
    val runs = (1 to reps).map { i =>
      if (i > 1) gcExecutors(s)
      tallied(tally)(refPipeline(s, nDocs))
    }
    val ((n, t), cpu, run, gc) = runs.minBy(_._1._2)
    (n, t, f, cpu, run, gc)
  }

  /** warmup + one measured rep within one session (the sandbox VM has
    * host-steal noise; min is the honest steady-state estimate). Each leg
    * additionally runs sessions interleaved in time — steal epochs last
    * minutes, so no single window decides a leg (the min-reduction lives
    * HERE, inside the one driver-recorded run).
    *
    * The warmup is ONE UNTIMED FULL-SIZE run, same policy on every leg:
    * fractional warmups (1/24, then executor-scaled) left the first
    * full-depth run paying per-JVM C2 at depth plus ParallelGC resize
    * churn — ClusterProbe showed a persistent rep1 penalty at 8x4 (toy
    * 4.3 s/gc 9 s vs rep2 3.4 s/gc 2 s; ref-dims 6.3 s vs 4.05 s) that no
    * fractional warmup removed. Steady state is reached exactly after one
    * full-size pass, which is also what a 10^12-doc job amortizes to.
    */
  private def measure(s: SparkSession, tally: CpuTally, scaleDocs: Long,
                      reps: Int = 1): (Long, Double, Double, Double, Double, Double) = {
    pipeline(s, scaleDocs)
    val f = fixedCost(pipeline(s, _))
    gcExecutors(s)
    val runs = (1 to reps).map { i =>
      if (i > 1) gcExecutors(s)
      tallied(tally)(pipeline(s, scaleDocs))
    }
    val ((n, t), cpu, run, gc) = runs.minBy(_._1._2)
    (n, t, f, cpu, run, gc)
  }

  /** Self-recorded artifact in the repo: the driver's stdout parsing has
    * failed in past rounds (BENCH_r01/r02 parsed=null) and its time window
    * can kill the run mid-way — write progressively so SOMETHING useful
    * survives any cutoff.
    *
    * Round 5: writes BENCH_LAST.json, NOT BENCH_SELF.json. BENCH_SELF.json
    * is the POLICY-managed artifact (the day's best complete run, copied by
    * hand per BASELINE.md) — round 4's driver window overwrote it with a
    * contended run, destroying the day's best evidence in the working tree
    * (VERDICT r4 nit #2). The bench itself now never touches it.
    */
  private def writeSelf(json: String): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => }

  /** One leg session's best-of-reps results (+ measured per-job fixed
    * costs for the toy and ref workloads).
    */
  final case class Leg(triples: Long, sec: Double, mode: String,
                       refSents: Long, refSec: Double,
                       fixed: Double, refFixed: Double,
                       cpuSec: Double, runSec: Double, gcSec: Double,
                       refCpuSec: Double, refRunSec: Double, refGcSec: Double,
                       stealFrac: Double = 0.0, probeGf: Double = 0.0) {
    def thr: Double = triples / math.max(sec - fixed, sec * 0.5)
    def thrRaw: Double = triples / sec
    def refThr: Double = refSents / math.max(refSec - refFixed, refSec * 0.5)
    def refThrRaw: Double = refSents / refSec
    /** on-CPU fraction of task time in the measured run (1 − steal/wait) */
    def cpuUtil: Double = if (runSec > 0) cpuSec / runSec else 1.0
    def refCpuUtil: Double = if (refRunSec > 0) refCpuSec / refRunSec else 1.0
    /** GC-pause share of task time (the self-inflicted part of off-CPU) */
    def gcFrac: Double = if (runSec > 0) gcSec / runSec else 0.0
    def refGcFrac: Double = if (refRunSec > 0) refGcSec / refRunSec else 0.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val cpusLow = math.max(1, cpus / 4)
    // TIME BUDGET: the whole main must finish inside the driver's bench
    // window — round 2's 24M-doc legs overran it and recorded NOTHING
    // (BENCH_r02.json tail ends mid-startup), which is strictly worse than
    // slightly noisier figures. Round 1's ~500 s run is the proven-safe
    // envelope; sizes below target ~450 s total at sf0.1 on 32 cpus.
    // Shorter legs carry a larger fixed-cost share, which the measured
    // per-job fixed-cost probe corrects for (see fixedCost). Round 4:
    // legs shrunk ×2/3 to afford THREE pre-registered session pairs
    // (steal epochs last minutes; more, shorter, time-separated sessions
    // beat fewer long ones for the min-reduction).
    // x28 (was x24): the round-4 kernel work cut the 8-core leg from
    // ~9.3 s to ~6.6 s at x24 — shorter legs carry a larger noise share
    // on this host, so the doc count grows with the code's speed to keep
    // legs in the 7-9 s band; +~25 s total, still inside the ~600 s
    // envelope with the wall guards as backstop
    val scaleDocs = graft.corpus.RuCorpus.docCount(sfDir) * 28

    // --- N executors, then 4N executors (each leg its own session)
    val coresPerWorker = 4
    // local-cluster can fail to LAUNCH executors in foreign environments
    // (missing SPARK_SCALA_VERSION etc.) — Spark would then hang waiting
    // for resources, so probe liveness with a timeout before trusting it
    def probe(s: SparkSession): Boolean = {
      @volatile var ok = false
      val t = new Thread(() => {
        try ok = s.range(1000).repartition(4).count() == 1000L
        catch { case _: Throwable => }
      })
      t.setDaemon(true); t.start(); t.join(90000)
      ok
    }
    // reference-dims inference is ~2 orders of magnitude more FLOPs/token;
    // size its legs so each stays multi-second without dominating the run
    // (shrunk 40k -> 25k in round 4 to pay for the full-size warmups; the
    // measured per-job fixed-cost probe corrects the larger fixed share)
    val refDocs = math.max(20000L, graft.corpus.RuCorpus.docCount(sfDir) / 4)
    val wall0 = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"BENCHMARK-PHASE ${(System.nanoTime() - wall0) / 1e9}%.0fs $what")
    def legAt(totalCores: Int, toyDocs: Long, rDocs: Long, reps: Int = 1): Leg = {
      mark(s"leg start cores=$totalCores")
      // in-bracket FMA probe (third retry covariate, round-4 VERDICT #1):
      // sampled IMMEDIATELY before the leg's session, single-threaded,
      // no Spark — a leg that starts inside a co-tenant epoch reads a
      // collapsed probe even when /proc/stat steal and cpu_util stay green
      val legProbeGf = HwCeiling.quickGflops1()
      // 1 rep x MORE interleaved sessions (budget-bound): host-steal
      // epochs last minutes — longer than back-to-back reps — so widening
      // the min-reduction across time-separated sessions beats repeating
      // inside one window; the big per-session warmup (scaleDocs/12)
      // keeps each single rep steady-state. Per-session spread is
      // reported alongside.
      // exact core budget even when totalCores < coresPerWorker
      val cpw = math.min(coresPerWorker, totalCores)
      try {
        val s = clusterSession(math.max(1, totalCores / cpw), cpw)
        if (probe(s)) {
          try {
            val tally = new CpuTally
            s.sparkContext.addSparkListener(tally)
            val sj0 = Steal.jiffies; val sw0 = System.nanoTime()
            val (n, t, f, c, r, g) = measure(s, tally, toyDocs, reps)
            val (rn, rt, rf, rc, rr, rg) = measureRef(s, tally, rDocs, reps)
            val sf = Steal.frac(sj0, Steal.jiffies, (System.nanoTime() - sw0) / 1e9)
            return Leg(n, t, "local-cluster", rn, rt, f, rf, c, r, g, rc, rr, rg, sf, legProbeGf)
          } finally {
            // a tmp-cleanup IOException from stop() must not discard the
            // measured leg (it would fall through to a RE-measured local
            // fallback — wasted wall + a different mode in the artifact)
            try s.stop() catch { case _: Throwable => }
          }
        } else (try s.stop() catch { case _: Throwable => })
      } catch { case _: Throwable => }
      val s = graft.runtime.LocalSession(totalCores, s"graft-bench-$totalCores")
      try {
        val tally = new CpuTally
        s.sparkContext.addSparkListener(tally)
        val sj0 = Steal.jiffies; val sw0 = System.nanoTime()
        val (n, t, f, c, r, g) = measure(s, tally, toyDocs, reps)
        val (rn, rt, rf, rc, rr, rg) = measureRef(s, tally, rDocs, reps)
        val sf = Steal.frac(sj0, Steal.jiffies, (System.nanoTime() - sw0) / 1e9)
        Leg(n, t, "local", rn, rt, f, rf, c, r, g, rc, rr, rg, sf, legProbeGf)
      } finally (try s.stop() catch { case _: Throwable => })
    }
    def leg(totalCores: Int): Leg = legAt(totalCores, scaleDocs, refDocs)
    // steal-conditioned leg retry: if the kernel reports >2% of box
    // capacity stolen during a leg's measured window, re-run the leg once
    // (bounded globally + wall-guarded) and keep the LOWER-STEAL attempt.
    // Selection keys on the external covariate only — the retried
    // attempt is kept even if it times worse — so the estimator stays
    // free of the metric-conditioned optional stopping flagged in round-3
    // ADVICE. Every attempt's steal share lands in the artifact.
    val stealRetryAt = 0.02
    // Second external covariate, same rule: the on-CPU fraction of task
    // time. This hypervisor does NOT always account steal to /proc/stat
    // (round-4g: a 17.7 s high leg against a 3.2 s twin at steal 0.000x),
    // but a co-tenant epoch still shows as executors NOT on CPU —
    // cpuSec/runSec collapses. Like steal, cpu_util is a contamination
    // measure, not the reported metric; the retried attempt is kept by
    // the covariate even if it times worse.
    // 0.75: healthy legs measure 0.86-0.99 here (the 32-core leg's normal
    // scheduling gaps put it at ~0.86-0.89 — NOT contamination);
    // epoch-hit legs collapse well below (a 17.7 s leg ran ~0.5)
    val utilRetryBelow = 0.75
    // Third + fourth covariates (round-4 VERDICT #1: the 45.96 s poisoned
    // low leg passed steal 0.0011 AND cpu_util 0.99 because the epoch
    // inflated CPU SECONDS themselves — 74.7 -> 243.5 across legs of
    // identical work). Both are external contamination measures, never the
    // reported metric:
    //  - leg-twin cpu_sec: identical (cores, docs) work costs near-constant
    //    CPU seconds on a healthy box; an attempt whose cpuSec exceeds the
    //    run's best same-config attempt by >1.5x measured the HOST.
    //  - in-bracket FMA probe: a leg whose immediately-preceding
    //    single-thread register-FMA probe reads <0.45x the run's best
    //    probe started inside an epoch (healthy 3.1-3.9 GF; poisoned 0.5).
    val cpuTwinRetryRatio = 1.5
    val probeRetryFrac = 0.45
    // best (lowest) cpu_sec seen per identical-work config, toy and ref
    val cpuFloor = scala.collection.mutable.Map.empty[(Int, Long), Double]
    val refCpuFloor = scala.collection.mutable.Map.empty[(Int, Long), Double]
    var probeBest = 0.0
    var legRetries = 0
    val maxLegRetries = 4
    def cleanLegAt(cores: Int, toyDocs: Long, rDocs: Long, wallCap: Double, reps: Int = 1): Leg = {
      val toyKey = (cores, toyDocs); val refKey = (cores, rDocs)
      // cpu_sec excess vs the run's best same-config attempt (1.0 = at or
      // below the floor; only defined once a twin exists)
      def cpuExcess(l: Leg): Double = {
        val t = cpuFloor.get(toyKey).map(f => l.cpuSec / math.max(f, 1e-9)).getOrElse(1.0)
        val r = refCpuFloor.get(refKey).map(f => l.refCpuSec / math.max(f, 1e-9)).getOrElse(1.0)
        math.max(t, r)
      }
      def probeDrop(l: Leg): Double =
        if (probeBest > 0) l.probeGf / probeBest else 1.0
      def contaminated(l: Leg): Boolean =
        l.stealFrac > stealRetryAt ||
          math.min(l.cpuUtil, l.refCpuUtil) < utilRetryBelow ||
          cpuExcess(l) > cpuTwinRetryRatio ||
          probeDrop(l) < probeRetryFrac
      // floors update from every attempt (min-only, so a poisoned attempt
      // can only RAISE the bar for calling later attempts poisoned, never
      // lower it)
      def record(l: Leg): Unit = {
        cpuFloor(toyKey) = math.min(cpuFloor.getOrElse(toyKey, Double.MaxValue), l.cpuSec)
        refCpuFloor(refKey) = math.min(refCpuFloor.getOrElse(refKey, Double.MaxValue), l.refCpuSec)
        probeBest = math.max(probeBest, l.probeGf)
      }
      val a = legAt(cores, toyDocs, rDocs, reps)
      val aContam = contaminated(a) // evaluate BEFORE a's own floors land
      record(a)
      if (aContam && legRetries < maxLegRetries &&
          (System.nanoTime() - wall0) / 1e9 < wallCap) {
        legRetries += 1
        mark(f"leg retry cores=$cores steal=${a.stealFrac}%.3f " +
          f"util=${math.min(a.cpuUtil, a.refCpuUtil)}%.2f " +
          f"cpu_excess=${cpuExcess(a)}%.2f probe=${a.probeGf}%.2f")
        val b = legAt(cores, toyDocs, rDocs, reps)
        record(b)
        // keep the less-contaminated attempt: steal dominates, then
        // cpu_sec-vs-twin excess, then util. All covariates, never the
        // reported wall time — the retried attempt is kept even if slower.
        def bad(l: Leg) =
          (l.stealFrac, cpuExcess(l), 1.0 - math.min(l.cpuUtil, l.refCpuUtil))
        if (Ordering[(Double, Double, Double)].lt(bad(b), bad(a))) b else a
      } else a
    }
    // time-interleaved sessions per leg (lo,hi,lo,hi); the recorded figure
    // is the min across sessions, and the per-session spread is reported
    // so the noise band is visible in the artifact itself (hypervisor
    // steal epochs last minutes — see BASELINE.md)
    // The legs are BRACKETED by hardware-ceiling probes (HwCeiling):
    // per-thread register-FMA throughput at the two leg core counts,
    // sampled immediately before and after. Even zero-memory compute does
    // not scale 4x on this box (all-core frequency + hypervisor steal +
    // shared DRAM) — losses a real N->4N EXECUTOR scale-out does not
    // inherit, since each node brings its own cores and memory bus. Leg
    // efficiency is reported raw AND divided by the concurrent ceiling.
    val hwPre = HwCeiling.sample(cpusLow, cpus)
    val mainRatio = cpus.toDouble / cpusLow // ideal speedup (4 when cpus%4==0)
    // FIXED pre-registered session-pair count (round-3 ADVICE: the old
    // adaptive widening loop stopped when the min-reduced efficiency
    // cleared 0.8, i.e. the stopping rule was conditioned on the reported
    // metric — an optional-stopping estimator that biases the headline
    // upward). Three pairs always run, every pair's raw seconds AND
    // per-pair efficiency are recorded, and the artifact reports the
    // median-of-pairs alongside the min-reduced figure. The only early
    // exit is the elapsed-WALL guard (time-conditioned truncation, never
    // metric-conditioned; overrunning the driver's window records
    // NOTHING, which is worse than a missing pair) — a skip is recorded
    // in the artifact as pairs_skipped.
    val plannedPairs = 3
    val sessionsBuf = scala.collection.mutable.ArrayBuffer.empty[(Leg, Leg)]
    var pairsSkipped = 0
    def secsOf(xs: Seq[Double]): String = xs.map(v => f"$v%.2f").mkString("[", ",", "]")
    def mainPair(): Unit = {
      // 480 s: the THIRD main pair outranks the second mid pair in the
      // wall budget — the median over three pairs survives one
      // contention-poisoned pair (round-4d saw a 23.5 s low leg against a
      // 9.1 s twin at recorded-zero steal), a median over two does not.
      // The mid guard below stays at 470 so when main3 runs (~110 s),
      // mid2 is the pair that yields; total stays under ~600 s.
      // retry cap 520 (was 460): the round-5 first run saw the THIRD
      // pair's low leg read probe 0.85 GF (epoch) at decision time ~466 s
      // — contaminated, correctly flagged, but the retry was wall-starved.
      // The catalog's adaptive budget (560 - elapsed) absorbs the
      // difference by degrading to single-shot timings: graded scaling
      // evidence outranks the informational catalog.
      if ((System.nanoTime() - wall0) / 1e9 < 480 || sessionsBuf.isEmpty)
        sessionsBuf += ((cleanLegAt(cpusLow, scaleDocs, refDocs, 520),
          cleanLegAt(cpus, scaleDocs, refDocs, 520)))
      else pairsSkipped += 1
      // raw per-pair seconds survive any mid-run kill
      writeSelf(s"""{"partial":"pairs_done_${sessionsBuf.length}",""" +
        s""""sec_low_sessions":${secsOf(sessionsBuf.map(_._1.sec).toSeq)},""" +
        s""""sec_high_sessions":${secsOf(sessionsBuf.map(_._2.sec).toSeq)}}""")
    }
    // mid-pair config (rationale at the scaling_mid JSON below) — its legs
    // and the catalog are INTERLEAVED between the main pairs, so main
    // pairs are separated by minutes, not seconds: steal epochs on this
    // host last minutes (BASELINE.md), and in rounds 2-4a the back-to-back
    // pairs regularly ALL landed inside one epoch
    val midLowCores = math.max(1, cpus / 8)
    val midHighCores = math.max(2, cpus / 2)
    val midDocs = scaleDocs * 3 / 8
    val midRefDocs = refDocs / 4
    val midBuf = scala.collection.mutable.ArrayBuffer.empty[(Leg, Leg)]
    var midSkipped = 0
    def midPair(): Unit = {
      // same wall-guard discipline as mainPair (time-conditioned only):
      // a repeat mid pair must actually YIELD to the third MAIN pair.
      // The old guard (470) defeated the documented priority order in
      // practice: elapsed at the mid2 decision was typically ~400-460
      // (guard passes, mid2 runs ~80-110 s) and main3's 480 guard then
      // failed — BOTH round-5 driver-style runs recorded pairs_skipped=1
      // on the GRADED pair while keeping the informational mid2. 360
      // makes mid2 the pair that yields whenever the run is not fast
      // enough to fit both, exactly as the mainPair comment promises;
      // the first mid pair (isEmpty) always runs and keeps the main
      // pairs time-separated.
      if ((System.nanoTime() - wall0) / 1e9 < 360 || midBuf.isEmpty)
        // reps=2 (metric-agnostic, ALWAYS both; min kept): the mid pair
        // usually gets only ONE session before the wall guard, so a
        // single sick window (e.g. round-4b's 12.4 s 4-core leg / 1.99 s
        // fixed-probe session) has no cross-session min to absorb it
        midBuf += ((cleanLegAt(midLowCores, midDocs, midRefDocs, 460, reps = 2),
          cleanLegAt(midHighCores, midDocs, midRefDocs, 460, reps = 2)))
      else midSkipped += 1
    }
    // --- per-query catalog timings on plain local[cpus]; best-of-2 (the
    // host has hypervisor-level steal spikes that single-shot timings hit)
    def runCatalog(): Seq[(String, Double)] = {
      val spark = graft.runtime.LocalSession(cpus, s"graft-bench-$cpus")
      mark("catalog start")
      val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      // untimed warmup of the first catalog query: a fresh session bills
      // JIT/codegen compilation to whoever runs first (q_acc_agg measured
      // 0.29 s warm vs 5.6 s cold in the round-4a run)
      try sorted.head._2(spark, sfDir).count() catch { case _: Throwable => }
      // catalog wall budget: a contention epoch inflates every query 4-10x
      // (one run hit 185 s vs the ~43 s quiet norm) and the best-of-2
      // repeats DOUBLE that cost — which then eats the third main pair's
      // wall budget, i.e. an epoch in the informational catalog damages
      // the GRADED scaling evidence. Past the budget, degrade to
      // single-shot timings (every query still gets a recorded number;
      // the trigger is elapsed wall only, never the measured values).
      // adaptive now that the catalog runs LAST: it gets whatever wall
      // remains under the ~600 s proven-safe envelope (elapsed-wall only,
      // never metric-conditioned)
      val catalogBudget = math.max(30.0, 560.0 - (System.nanoTime() - wall0) / 1e9)
      val cat0 = System.nanoTime()
      val rs = sorted.map { case (name, fn) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() } catch { case _: Throwable => return -1.0 }
          (System.nanoTime() - t0) / 1e9
        }
        val first = once()
        val overBudget = (System.nanoTime() - cat0) / 1e9 > catalogBudget
        // sub-0.4s queries are fixed-cost-dominated and multi-second ones
        // are compute-dominated (a steal spike shifts them <2x while the
        // repeat costs real window time) — best-of-2 only in between
        name -> (if (first < 0.4 || first > 3.0 || overBudget) first
                 else math.min(first, once()))
      }
      mark("catalog done")
      // shutdown must not zero a completed artifact: SparkSession.close
      // can throw IOException("Failed to delete: /tmp/blockmgr-...") when
      // tmp cleanup races an external scrubber — the 13:05 run lost its
      // full 3-pair scaling block to exactly that, AFTER all measurements
      // were done
      try spark.stop() catch { case e: Throwable =>
        mark(s"catalog session stop failed (ignored): ${e.getMessage}") }
      rs
    }

    // thermal/turbo equalization: the FIRST low leg of every recorded run
    // landed on the coldest package of the whole run (all cores idle →
    // max turbo) and was min-selected into the headline, deflating the
    // ratio — e.g. round-4 quiet-window low legs 7.75 s (cold) vs 9.66 s
    // (after the 16-core mid leg). Burn all cores for ~12 s so every leg
    // measures the same steady-state clock regime a long-running 10^12-doc
    // job would see.
    locally {
      mark("thermal equalization burn")
      val until = System.nanoTime() + 12L * 1000 * 1000 * 1000
      val ts = (0 until cpus).map { _ =>
        val t = new Thread(() => {
          var x = 1.0
          while (System.nanoTime() < until) {
            var i = 0
            while (i < 10000) { x = x * 1.0000001 + 1e-9; i += 1 }
          }
          if (x == Double.MinValue) println(x) // defeat DCE
        })
        t.setDaemon(true); t.start(); t
      }
      ts.foreach(_.join())
    }
    // Round 5 ordering (round-4 VERDICT #1): ALL graded scaling pairs run
    // BEFORE the informational catalog — a contention epoch landing in the
    // catalog can no longer eat the third main pair's wall budget. Main
    // pairs stay separated in time by the interleaved mid pairs (steal
    // epochs last minutes; back-to-back pairs used to all land in one).
    mainPair()
    midPair()
    mainPair()
    midPair()
    mainPair()
    // Retrospective pair retry (round-5 ext): the live 1.5x leg-twin key
    // compares against the best same-config attempt SO FAR, so an epoch
    // covering the run's START escapes it — the floors only expose the
    // early legs as poisoned once a clean later pair lands (the 11:22 run:
    // pair-1/2 HIGH legs at cpu_sec 108.99/117.29 vs pair 3's 71.02 passed
    // every live check; steal and probes read healthy throughout). After
    // all planned pairs, re-evaluate each recorded main pair against the
    // FINAL cpu_sec floors and re-run the worst offender — REPLACING the
    // pair unconditionally: the trigger and the replacement are keyed on
    // the contamination covariate, never the reported metric, so the
    // estimator stays optional-stopping-free. Wall-guarded like every
    // retry (decision < 500 s); the catalog's adaptive budget absorbs the
    // cost by degrading to single-shot timings — graded pairs outrank it.
    var retroRetries = 0
    def retroExcess(l: Leg, cores: Int): Double = {
      val t = cpuFloor.get((cores, scaleDocs))
        .map(f => l.cpuSec / math.max(f, 1e-9)).getOrElse(1.0)
      val r = refCpuFloor.get((cores, refDocs))
        .map(f => l.refCpuSec / math.max(f, 1e-9)).getOrElse(1.0)
      math.max(t, r)
    }
    var retroGo = true
    while (retroGo && retroRetries < 2 &&
           (System.nanoTime() - wall0) / 1e9 < 500) {
      val flagged = sessionsBuf.zipWithIndex.map { case ((lo, hi), i) =>
        (math.max(retroExcess(lo, cpusLow), retroExcess(hi, cpus)), i)
      }.filter(_._1 > cpuTwinRetryRatio)
      if (flagged.isEmpty) retroGo = false
      else {
        val (worst, idx) = flagged.maxBy(_._1)
        retroRetries += 1
        mark(f"retro pair retry idx=$idx cpu_excess=$worst%.2f")
        sessionsBuf(idx) = ((cleanLegAt(cpusLow, scaleDocs, refDocs, 560),
          cleanLegAt(cpus, scaleDocs, refDocs, 560)))
      }
    }
    val results = runCatalog()
    val sessions = sessionsBuf.toSeq
    val midSessions = midBuf.toSeq
    val hwPost = HwCeiling.sample(cpusLow, cpus)
    val hwMid = HwCeiling.sample(midLowCores, midHighCores)
    // same-code no-Spark ceiling (ThreadScale pipeLeg, exact executor-side
    // work on a plain thread pool): the strong-scaling bound THIS box
    // permits between the two core counts — shared-L3/DRAM latency and
    // all-core frequency included, zero Spark. scaling.efficiency divided
    // by this is the Spark-harness share, the part a real N->4N
    // scale-out actually inherits (each real node brings its own memory
    // hierarchy, so the box's ceiling losses don't transfer).
    val (ccLo, ccHi, ccEff) = graft.ThreadScale.codeCeiling(scaleDocs / 2, cpusLow, cpus)
    mark("all legs + hw brackets done")
    // conservative: normalize by the HIGHER of the two bracket ceilings;
    // toy pipeline runs scalar-dominated code (sparse-tap conv), ref-dims
    // runs under the AVX-512 frequency license -> per-workload ceilings
    // probe sanity band: per-thread throughput/frequency RATIOS between
    // two core counts of one box physically sit in ~[0.5, 1.15]; a probe
    // leg that catches a contention epoch can report wild ratios (round-4h
    // recorded a 4.1× "frequency" ratio that turned efficiency_cpu_vs_hw
    // into 0.19). Out-of-band probes fall back to 1.0 (= no
    // normalization) and are flagged; the raw probe values stay in the
    // artifact either way.
    var hwProbeSuspect = 0
    def saneHw(x: Double): Double =
      if (x >= 0.5 && x <= 1.15) x else { hwProbeSuspect += 1; 1.0 }
    val hwEff = saneHw(math.max(hwPre.eff, hwPost.eff))
    val hwSimdEff = saneHw(math.max(hwPre.simdEff, hwPost.simdEff))
    // steal-free CLOCK ratios (flops per thread-CPU-second): the factor by
    // which identical work costs more CPU SECONDS at the high core count
    // purely from all-core frequency scaling. efficiency_cpu divided by
    // this is work-invariance in CYCLES — the figure a real N->4N
    // scale-OUT (constant per-node clocks) inherits. max(pre,post) is the
    // conservative denominator (closer to 1 -> smaller normalized figure).
    val hwCpuFreqEff = saneHw(math.max(hwPre.cpuFreqEff, hwPost.cpuFreqEff))
    val hwSimdCpuFreqEff = saneHw(math.max(hwPre.simdCpuFreqEff, hwPost.simdCpuFreqEff))
    val los = sessions.map(_._1)
    val his = sessions.map(_._2)
    val lo = los.minBy(_.sec)
    val hi = his.minBy(_.sec)
    val thrHigh = hi.thrRaw
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    // per-pair efficiencies (pair i's low vs pair i's high — no cross-pair
    // selection at all) + their median. Round 4: the MEDIAN is the headline
    // `efficiency`; the old min-reduced figure stays recorded as
    // `efficiency_minmix`. Rationale: min-reducing each leg independently
    // pairs sessions from DIFFERENT thermal/turbo epochs (the first low
    // leg of a run lands on the coldest package and is min-selected ~every
    // run, deflating the ratio), while each pre-registered pair is
    // internally consistent and the median over pairs is selection-free —
    // the estimator round-3 ADVICE asked to surface.
    val pairEffs = sessions.map { case (l, h) => h.thr / (mainRatio * l.thr) }
    val pairEffsRaw = sessions.map { case (l, h) => h.thrRaw / (mainRatio * l.thrRaw) }
    val refPairEffs = sessions.map { case (l, h) => h.refThr / (mainRatio * l.refThr) }
    val refPairEffsRaw = sessions.map { case (l, h) => h.refThrRaw / (mainRatio * l.refThrRaw) }
    def effList(xs: Seq[Double]): String = xs.map(v => f"$v%.3f").mkString("[", ",", "]")
    // physical-bound filter, NOT metric selection: all "executors" share
    // one cache/memory system here, so >1.0 strong-scaling efficiency is
    // impossible for this workload — a pair above 1.05 means its LOW leg
    // was externally slowed (round-4d: a 23.5 s low leg vs a 9.1 s twin
    // at recorded-zero steal → pair "efficiency" 2.30). Such pairs are
    // excluded from the headline median; every pair's raw seconds and
    // efficiency stay in the artifact, and the count is flagged.
    def plausible(xs: Seq[Double]): Seq[Double] = {
      val p = xs.filter(_ <= 1.05)
      if (p.nonEmpty) p else xs
    }
    val pairsImplausible = pairEffs.count(_ > 1.05)
    val efficiency = median(plausible(pairEffs))
    val efficiencyRaw = median(plausible(pairEffsRaw))
    val effMinmix = hi.thr / (mainRatio * lo.thr)
    val effMinmixRaw = hi.thrRaw / (mainRatio * lo.thrRaw)
    // ref-dims: pick the (sents, sec) PAIR from the min-ref-time session so
    // the throughput stays self-consistent even if leg inputs diverge
    val refLo = los.minBy(_.refSec)
    val refHi = his.minBy(_.refSec)
    val refEff = median(plausible(refPairEffs))
    val refEffRaw = median(plausible(refPairEffsRaw))
    val refEffMinmix = refHi.refThr / (mainRatio * refLo.refThr)
    val refEffMinmixRaw = refHi.refThrRaw / (mainRatio * refLo.refThrRaw)
    def secs(xs: Seq[Double]): String =
      xs.map(v => f"$v%.2f").mkString("[", ",", "]")
    def fracs(xs: Seq[Double]): String =
      xs.map(v => f"$v%.4f").mkString("[", ",", "]")

    val scaling =
      f"""{"cpus_low":$cpusLow,"cpus_high":$cpus,"docs":$scaleDocs,"mode":"${lo.mode}/${hi.mode}",""" +
        f""""sessions_per_leg":${sessions.length},"pairs_planned":$plannedPairs,"pairs_skipped":$pairsSkipped,"pairs_implausible":$pairsImplausible,"hw_probe_suspect":$hwProbeSuspect,""" +
        f""""steal_frac_low_sessions":${fracs(los.map(_.stealFrac))},""" +
        f""""steal_frac_high_sessions":${fracs(his.map(_.stealFrac))},""" +
        f""""steal_retry_at":$stealRetryAt%.3f,"leg_retries":$legRetries,"retro_retries":$retroRetries,""" +
        f""""cpu_twin_retry_ratio":$cpuTwinRetryRatio%.2f,"probe_retry_frac":$probeRetryFrac%.2f,""" +
        f""""cpu_sec_low_sessions":${secsOf(los.map(_.cpuSec).toSeq)},""" +
        f""""cpu_sec_high_sessions":${secsOf(his.map(_.cpuSec).toSeq)},""" +
        f""""ref_cpu_sec_low_sessions":${secsOf(los.map(_.refCpuSec).toSeq)},""" +
        f""""ref_cpu_sec_high_sessions":${secsOf(his.map(_.refCpuSec).toSeq)},""" +
        f""""probe_gf_low_sessions":${secsOf(los.map(_.probeGf).toSeq)},""" +
        f""""probe_gf_high_sessions":${secsOf(his.map(_.probeGf).toSeq)},""" +
        f""""efficiency_pairs":${effList(pairEffs)},"efficiency_median":${median(pairEffs)}%.3f,""" +
        f""""efficiency_minmix":$effMinmix%.3f,"efficiency_minmix_raw":$effMinmixRaw%.3f,""" +
        f""""sec_low_sessions":${secs(los.map(_.sec))},"sec_high_sessions":${secs(his.map(_.sec))},""" +
        f""""fixed_sec_low":${lo.fixed}%.2f,"fixed_sec_high":${hi.fixed}%.2f,""" +
        f""""triples_low":${lo.triples},"sec_low":${lo.sec}%.2f,"triples_per_sec_low":${lo.thrRaw}%.1f,""" +
        f""""triples_high":${hi.triples},"sec_high":${hi.sec}%.2f,"triples_per_sec_high":$thrHigh%.1f,""" +
        f""""efficiency_raw":$efficiencyRaw%.3f,"efficiency":$efficiency%.3f,""" +
        f""""hw_flops_eff":$hwEff%.3f,"hw_simd_eff":$hwSimdEff%.3f,""" +
        f""""hw_gflops_per_thread_pre":[${hwPre.perThreadLow}%.2f,${hwPre.perThreadHigh}%.2f],""" +
        f""""hw_gflops_per_thread_post":[${hwPost.perThreadLow}%.2f,${hwPost.perThreadHigh}%.2f],""" +
        f""""hw_simd_gflops_per_thread_pre":[${hwPre.simdLow}%.1f,${hwPre.simdHigh}%.1f],""" +
        f""""hw_simd_gflops_per_thread_post":[${hwPost.simdLow}%.1f,${hwPost.simdHigh}%.1f],""" +
        f""""hw_bw_eff":${math.max(hwPre.bwEff, hwPost.bwEff)}%.3f,""" +
        f""""hw_bw_gbps_per_thread_pre":[${hwPre.bwLow}%.2f,${hwPre.bwHigh}%.2f],""" +
        f""""hw_bw_gbps_per_thread_post":[${hwPost.bwLow}%.2f,${hwPost.bwHigh}%.2f],""" +
        f""""efficiency_vs_hw":${efficiencyRaw / hwEff}%.3f,""" +
        f""""cpu_sec_low":${lo.cpuSec}%.1f,"cpu_sec_high":${hi.cpuSec}%.1f,""" +
        f""""cpu_util_low":${lo.cpuUtil}%.3f,"cpu_util_high":${hi.cpuUtil}%.3f,""" +
        f""""cpu_util_low_sessions":${fracs(los.map(_.cpuUtil))},""" +
        f""""cpu_util_high_sessions":${fracs(his.map(_.cpuUtil))},""" +
        f""""gc_frac_low":${lo.gcFrac}%.3f,"gc_frac_high":${hi.gcFrac}%.3f,""" +
        f""""efficiency_cpu":${if (hi.cpuSec > 0) lo.cpuSec / hi.cpuSec else 0.0}%.3f,""" +
        f""""hw_cpu_freq_eff":$hwCpuFreqEff%.3f,""" +
        f""""efficiency_cpu_vs_hw":${if (hi.cpuSec > 0) lo.cpuSec / hi.cpuSec / hwCpuFreqEff else 0.0}%.3f,""" +
        f""""code_ceiling_sec_low":$ccLo%.2f,"code_ceiling_sec_high":$ccHi%.2f,""" +
        f""""code_ceiling_eff":$ccEff%.3f,""" +
        f""""efficiency_vs_code_ceiling":${efficiencyRaw / math.max(ccEff, 1e-9)}%.3f}"""
    val refDims =
      f"""{"dims":"navec 250Kx300d 100q, cnn [256,128,64] k3, dense","docs":$refDocs,""" +
        f""""sents":${refHi.refSents},""" +
        f""""sec_low_sessions":${secs(los.map(_.refSec))},"sec_high_sessions":${secs(his.map(_.refSec))},""" +
        f""""fixed_sec_low":${refLo.refFixed}%.2f,"fixed_sec_high":${refHi.refFixed}%.2f,""" +
        f""""sents_per_sec_low":${refLo.refThrRaw}%.1f,""" +
        f""""sents_per_sec_high":${refHi.refThrRaw}%.1f,""" +
        f""""efficiency_raw":$refEffRaw%.3f,"efficiency":$refEff%.3f,""" +
        f""""efficiency_minmix":$refEffMinmix%.3f,"efficiency_minmix_raw":$refEffMinmixRaw%.3f,""" +
        f""""efficiency_pairs":${effList(refPairEffs)},"efficiency_median":${median(refPairEffs)}%.3f,""" +
        f""""efficiency_vs_hw":${refEffRaw / hwSimdEff}%.3f,""" +
        f""""cpu_sec_low":${refLo.refCpuSec}%.1f,"cpu_sec_high":${refHi.refCpuSec}%.1f,""" +
        f""""cpu_util_low":${refLo.refCpuUtil}%.3f,"cpu_util_high":${refHi.refCpuUtil}%.3f,""" +
        f""""gc_frac_low":${refLo.refGcFrac}%.3f,"gc_frac_high":${refHi.refGcFrac}%.3f,""" +
        f""""efficiency_cpu":${if (refHi.refCpuSec > 0) refLo.refCpuSec / refHi.refCpuSec else 0.0}%.3f,""" +
        f""""hw_simd_cpu_freq_eff":$hwSimdCpuFreqEff%.3f,""" +
        f""""efficiency_cpu_vs_hw":${if (refHi.refCpuSec > 0) refLo.refCpuSec / refHi.refCpuSec / hwSimdCpuFreqEff else 0.0}%.3f}"""
    writeSelf(s"""{"partial":"after_main_legs","scaling":$scaling,"ref_dims":$refDims}""")

    // --- secondary scaling pair at cpus/8 -> cpus/2 (4 -> 16 on the
    // 32-vCPU box): the full-box leg above shares the host with whatever
    // else runs on it, so its efficiency conflates OUR scaling with
    // co-tenant contention; a pair that leaves headroom on both legs
    // isolates the code's scaling (the north rule fixes the RATIO N->4N,
    // not N itself). Toy AND ref-dims workloads, half the docs, TWO
    // time-separated sessions per leg (run interleaved above).
    val midLos = midSessions.map(_._1); val midHis = midSessions.map(_._2)
    val midLo = midLos.minBy(_.sec); val midHi = midHis.minBy(_.sec)
    val midRatio = midHighCores.toDouble / midLowCores // ideal speedup
    // same median-of-pairs headline as the main pair (see comment there)
    val midPairEffs = midSessions.map { case (l, h) => h.thr / (midRatio * l.thr) }
    val midPairEffsRaw = midSessions.map { case (l, h) => h.thrRaw / (midRatio * l.thrRaw) }
    val midRefPairEffs = midSessions.map { case (l, h) => h.refThr / (midRatio * l.refThr) }
    val midRefPairEffsRaw = midSessions.map { case (l, h) => h.refThrRaw / (midRatio * l.refThrRaw) }
    val midEff = median(plausible(midPairEffs))
    val midEffRaw = median(plausible(midPairEffsRaw))
    val midRefLo = midLos.minBy(_.refSec); val midRefHi = midHis.minBy(_.refSec)
    val midRefEff = median(plausible(midRefPairEffs))
    val midRefEffRaw = median(plausible(midRefPairEffsRaw))
    val scalingMid =
      f"""{"cpus_low":$midLowCores,"cpus_high":$midHighCores,"docs":$midDocs,""" +
        f""""sec_low_sessions":${secs(midLos.map(_.sec))},""" +
        f""""sec_high_sessions":${secs(midHis.map(_.sec))},""" +
        f""""fixed_sec_low":${midLo.fixed}%.2f,"fixed_sec_high":${midHi.fixed}%.2f,""" +
        f""""triples_per_sec_low":${midLo.thrRaw}%.1f,""" +
        f""""triples_per_sec_high":${midHi.thrRaw}%.1f,""" +
        f""""efficiency_raw":$midEffRaw%.3f,"efficiency":$midEff%.3f,""" +
        f""""efficiency_pairs":${effList(midPairEffs)},""" +
        f""""ref_efficiency_pairs":${effList(midRefPairEffs)},""" +
        f""""ref_docs":$midRefDocs,""" +
        f""""ref_sec_low_sessions":${secs(midLos.map(_.refSec))},""" +
        f""""ref_sec_high_sessions":${secs(midHis.map(_.refSec))},""" +
        f""""ref_fixed_sec_low":${midRefLo.refFixed}%.2f,"ref_fixed_sec_high":${midRefHi.refFixed}%.2f,""" +
        f""""ref_sents_per_sec_low":${midRefLo.refThrRaw}%.1f,""" +
        f""""ref_sents_per_sec_high":${midRefHi.refThrRaw}%.1f,""" +
        f""""ref_efficiency_raw":$midRefEffRaw%.3f,"ref_efficiency":$midRefEff%.3f,""" +
        f""""pairs_skipped":$midSkipped,""" +
        f""""steal_frac_low_sessions":${fracs(midLos.map(_.stealFrac))},""" +
        f""""steal_frac_high_sessions":${fracs(midHis.map(_.stealFrac))},""" +
        f""""cpu_sec_low_sessions":${secs(midLos.map(_.cpuSec))},""" +
        f""""cpu_sec_high_sessions":${secs(midHis.map(_.cpuSec))},""" +
        f""""probe_gf_low_sessions":${secs(midLos.map(_.probeGf))},""" +
        f""""probe_gf_high_sessions":${secs(midHis.map(_.probeGf))},""" +
        f""""hw_flops_eff":${hwMid.eff}%.3f,"hw_simd_eff":${hwMid.simdEff}%.3f,""" +
        f""""efficiency_vs_hw":${midEffRaw / saneHw(hwMid.eff)}%.3f,""" +
        f""""ref_efficiency_vs_hw":${midRefEffRaw / saneHw(hwMid.simdEff)}%.3f,""" +
        f""""cpu_sec_low":${midLo.cpuSec}%.1f,"cpu_sec_high":${midHi.cpuSec}%.1f,""" +
        f""""cpu_util_low":${midLo.cpuUtil}%.3f,"cpu_util_high":${midHi.cpuUtil}%.3f,""" +
        f""""gc_frac_low":${midLo.gcFrac}%.3f,"gc_frac_high":${midHi.gcFrac}%.3f,""" +
        f""""efficiency_cpu":${if (midHi.cpuSec > 0) midLo.cpuSec / midHi.cpuSec else 0.0}%.3f,""" +
        f""""hw_cpu_freq_eff":${hwMid.cpuFreqEff}%.3f,""" +
        f""""efficiency_cpu_vs_hw":${if (midHi.cpuSec > 0) midLo.cpuSec / midHi.cpuSec / saneHw(hwMid.cpuFreqEff) else 0.0}%.3f,""" +
        f""""ref_efficiency_cpu":${if (midRefHi.refCpuSec > 0) midRefLo.refCpuSec / midRefHi.refCpuSec else 0.0}%.3f,""" +
        f""""ref_efficiency_cpu_vs_hw":${if (midRefHi.refCpuSec > 0) midRefLo.refCpuSec / midRefHi.refCpuSec / saneHw(hwMid.simdCpuFreqEff) else 0.0}%.3f,""" +
        f""""note":"headroom pair: isolates code scaling from full-box co-tenant contention; efficiency uses (t - measured per-job fixed cost), the 10^12-doc-relevant number"}"""
    writeSelf(s"""{"partial":"after_mid_legs","scaling":$scaling,"scaling_mid":$scalingMid,"ref_dims":$refDims}""")

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val json =
      f"""{"metric":"triples_per_sec","value":$thrHigh%.1f,"unit":"triples/sec","queries":$qs,"sf":"$sfDir","scaling":$scaling,"scaling_mid":$scalingMid,"ref_dims":$refDims,"total_query_sec":${results.map(_._2).sum}%.1f}"""
    println(json)
    writeSelf(json)
  }
}
