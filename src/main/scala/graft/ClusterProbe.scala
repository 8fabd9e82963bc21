package graft

import org.apache.spark.sql.SparkSession

/** Probe: run the pipeline on local-cluster (separate executor JVMs).
  * args = numWorkers coresPerWorker nDocs
  */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val (nw, cpw, nDocs) = (args(0).toInt, args(1).toInt, args(2).toLong)
    val classes = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    // local-cluster workers resolve the executor launch command via
    // spark.test.home / SPARK_HOME
    System.setProperty("spark.test.home", sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    // GC/heap A-B knobs (bench defaults when unset): the toy pipeline is
    // allocation-heavy and its 32-core leg spends ~30% of task time in GC
    // pauses (BENCH_SELF gc_frac_high) — these env overrides let a probe
    // isolate collector choice / heap size without editing Bench
    val memMb = sys.env.getOrElse("GRAFT_EXEC_MEM_MB", "6144").toInt
    val gcOpts = sys.env.getOrElse("GRAFT_GC_OPTS",
      "-XX:+UseParallelGC -XX:NewRatio=1") // bench default (A/B'd, see Bench)
    val spark = SparkSession.builder()
      .master(s"local-cluster[$nw,$cpw,$memMb]")
      .appName("graft-cluster-probe")
      // local-cluster's third arg is the WORKER's budget; the executor
      // heap itself defaults to spark.executor.memory = 1g unless set —
      // claim the worker's full budget for the one executor it hosts
      .config("spark.executor.memory", s"${sys.env.getOrElse("GRAFT_EXEC_HEAP_MB", memMb.toString)}m")
      .config("spark.executor.extraClassPath", classes)
      // each executor JVM sizes its GC/JIT pools for ITS core share, not
      // the whole box — otherwise N executors spawn N full GC-thread pools
      .config("spark.executor.extraJavaOptions",
        s"-XX:ActiveProcessorCount=$cpw $gcOpts" +
          sys.env.get("GRAFT_GC_THREADS").map(n => s" -XX:ParallelGCThreads=$n").getOrElse(""))
      .config("spark.sql.shuffle.partitions", (nw * cpw).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // args(3) = "ref": parse-only at production model dims (the soak
    // variant for the honest-FLOPs workload; triples from random weights
    // would be meaningless, sents/s is the metric)
    val refMode = args.length > 3 && args(3) == "ref"
    lazy val refBc = spark.sparkContext.broadcast(graft.pack.SynthPack.buildRandom())
    // per-run task-metric tally: cpuSec decomposes wall scaling into work
    // invariance (does the N-core plan burn the same CPU as the 4N one?)
    // vs contention; gcSec isolates allocation-pressure pauses
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          cpuNs.addAndGet(m.executorCpuTime)
          runMs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
          val a = stageAgg.computeIfAbsent(e.stageId, _ => new Array[Long](4))
          a.synchronized {
            a(0) += m.executorCpuTime; a(1) += m.executorRunTime
            a(2) += m.jvmGCTime; a(3) += 1
          }
        }
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val a = stageAgg.getOrDefault(i.stageId, new Array[Long](4))
        if (sys.env.get("GRAFT_STAGE_DETAIL").contains("1"))
          println(f"STAGE id=${i.stageId} name=${i.name.takeWhile(_ != ' ')} tasks=${a(3)} " +
            f"cpu=${a(0) / 1e9}%.1f run=${a(1) / 1e3}%.1f gc=${a(2) / 1e3}%.1f")
      }
      // GRAFT_JOB_DETAIL=1: per-job wall + the DRIVER-SIDE GAP since the
      // previous job ended — the gap sum is the action's serial tail
      // (plan/schedule/driver compute between jobs), the Amdahl term the
      // 4N leg cannot shrink.
      private var lastJobEnd = 0L
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (sys.env.get("GRAFT_JOB_DETAIL").contains("1")) {
          val now = System.nanoTime()
          val gap = if (lastJobEnd == 0) 0.0 else (now - lastJobEnd) / 1e9
          println(f"JOB ${e.jobId} start gap=$gap%.3f")
        }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        lastJobEnd = System.nanoTime()
        if (sys.env.get("GRAFT_JOB_DETAIL").contains("1"))
          println(s"JOB ${e.jobId} end")
      }
    })
    // GRAFT_SLICES: force the generator's slice count — holds task
    // granularity CONSTANT across core counts (a real 100 TB scan sizes
    // splits by data, not by cluster size). Passed to the generator as its
    // slice count so the generate->parse chain stays one fused object stage;
    // GRAFT_SLICES_SHUFFLE=1 uses repartition() instead, which inserts an
    // encoder round-trip + exchange (probe for that boundary's cost).
    val forcedSlices = sys.env.get("GRAFT_SLICES").map(_.toInt)
    val sliceShuffle = sys.env.get("GRAFT_SLICES_SHUFFLE").contains("1")
    def docsAt(docs: Long) = {
      val d = graft.sources.Docs.russianDocs(spark, docs,
        if (sliceShuffle) None else forcedSlices)
      if (sliceShuffle) forcedSlices.map(d.repartition(_)).getOrElse(d) else d
    }
    def run(docs: Long): Double = {
      val c0 = cpuNs.get; val r0 = runMs.get; val g0 = gcMs.get
      val t0 = System.nanoTime()
      val n =
        if (refMode)
          graft.nlp.Pipeline.parse(
            graft.sources.Docs.sentences(docsAt(docs)), refBc).count()
        else
          graft.kg.Kg.linkCanonicalize(spark,
            graft.kg.Kg.triples(graft.nlp.Pipeline.parse(
              graft.sources.Docs.sentences(docsAt(docs)),
              SparkEntry.packBc(spark)))).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener bus drain
      val cpu = (cpuNs.get - c0) / 1e9
      val run = (runMs.get - r0) / 1e3
      val gc = (gcMs.get - g0) / 1e3
      val unit = if (refMode) "sents" else "triples"
      if (docs == nDocs)
        println(f"CLUSTER nw=$nw cpw=$cpw docs=$nDocs $unit=$n sec=$dt%.2f thr=${n / dt}%.0f " +
          f"cpu=$cpu%.1f run=$run%.1f gc=$gc%.1f util=${cpu / math.max(run, 0.001)}%.3f")
      dt
    }
    // GRAFT_GC_BETWEEN=1: force a full GC on every executor before each
    // measured run, so major collections triggered by WARMUP garbage do
    // not land inside the measured window (benchmark hygiene probe)
    val gcBetween = sys.env.get("GRAFT_GC_BETWEEN").contains("1")
    def gcExecutors(): Unit = if (gcBetween) {
      val n = nw * cpw * 2
      spark.sparkContext.parallelize(1 to n, n).foreach(_ => System.gc())
    }
    run(math.max(5000L, nDocs / 12)) // warmup at bench depth
    gcExecutors(); run(nDocs)
    gcExecutors(); run(nDocs)
    spark.stop()
  }
}
