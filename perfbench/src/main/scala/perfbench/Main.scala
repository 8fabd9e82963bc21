package perfbench

import scala.collection.mutable

/** Run settings. `tiny` and `injectFailure` exist for the self-test only;
  * `allQueries` runs the catalog over all of `SparkEntry.queries`, which
  * takes several minutes and is run by hand (see README.md).
  */
final case class Cfg(workload: String, seed: Long, seconds: Int, trace: Boolean,
                     tiny: Boolean, injectFailure: Boolean, allQueries: Boolean, work: String) {
  val nproc: Int = Harness.nproc
  val tracer = new Tracer(trace, s"$workload/seed$seed")
}

/** What one run measured. End-to-end metrics are filled with tracing off,
  * per-layer metrics only by a traced run.
  */
final class Outcome {
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val failures = new Harness.Failures
}

/** Metric names and units; BENCHMARK.json lists the same names. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "run_s" -> "s", "rows_per_s" -> "rows/s", "setup_s" -> "s", "live_heap_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "trace.overhead_frac" -> "ratio",
    "spark.tasks" -> "count", "spark.stages" -> "count", "spark.task_cpu_s" -> "s",
    "spark.cpu_util" -> "ratio", "spark.gc_frac" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "scaling_eff" -> "ratio",
    "sources.sentences_s" -> "s",
    "text.sentenize_ns_per_sent" -> "ns", "text.tokenize_ns_per_sent" -> "ns",
    "nlp.parse_s" -> "s", "nlp.infer_us_per_sent" -> "us",
    "nlp.sents" -> "count", "nlp.tokens" -> "count", "nlp.oversize_sents" -> "count",
    "kernel.gflops_per_thread" -> "GFLOP/s", "kernel.simd_ceiling_frac" -> "ratio",
    "kg.extract_s" -> "s", "kg.link_s" -> "s", "kg.triples_per_sent" -> "ratio",
    "kg.linked_frac" -> "ratio",
    "catalog.query_s.p50" -> "s", "catalog.query_s.max" -> "s",
    "catalog.count_s" -> "s", "catalog.noop_over_count" -> "ratio") ++
    Catalog.families.map(f => s"catalog.${f}_s" -> "s") ++ Seq(
    "catalog.kg_analytics_stages" -> "count",
    "derive.fill_s" -> "s", "derive.cached_mb" -> "MB",
    "runtime.bucket_s.p50" -> "s", "runtime.bucket_s.max" -> "s",
    "runtime.bytes_per_triple" -> "B", "runtime.jobs_per_bucket" -> "count",
    "runtime.bucket_growth" -> "ratio", "runtime.written_mb" -> "MB",
    "runtime.resume_s" -> "s", "runtime.readback_s" -> "s")

  val workloads: Seq[String] = Seq("kg_pipeline", "refdims_parse", "catalog")
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload <" + Metrics.workloads.mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1> [--size tiny] [--inject-failure] [--all-queries]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = mutable.Map.empty[String, String]
    var flags = Set.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case f @ ("--inject-failure" | "--all-queries") => flags += f.drop(2); i += 1
        case k if k.startsWith("--") && i + 1 < args.length => opts(k.drop(2)) = args(i + 1); i += 2
        case k => usage(s"unexpected argument $k")
      }
    }
    if (opts.contains("record-digests")) {
      Catalog.recordDigests(opts("record-digests"), opts.getOrElse("out", Catalog.digestFile))
      return
    }
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    if (!Metrics.workloads.contains(workload)) usage(s"unknown workload $workload")
    def num(k: String): Long =
      opts.get(k).flatMap(_.toLongOption).getOrElse(usage(s"--$k needs a whole number"))
    val trace = num("trace") match { case 0 => false; case 1 => true; case _ => usage("--trace is 0 or 1") }
    val root = new java.io.File(".bench_build").getAbsoluteFile
    val work = new java.io.File(root, s"work/$workload-${ProcessHandle.current().pid()}")
    val cfg = Cfg(workload, num("seed"), num("seconds").toInt, trace,
      opts.get("size").contains("tiny"), flags("inject-failure"), flags("all-queries"), work.getPath)
    if (cfg.seconds < 1) usage("--seconds must be at least 1")

    val o = new Outcome
    val wall0 = System.nanoTime()
    o.detail("env") = Env.stamp(cfg)
    o.detail("hw_before") = Env.hw(cfg)
    try {
      o.failures.attempt(s"$workload run") {
        workload match {
          case "kg_pipeline" => Pipelines.run(cfg, o, refDims = false)
          case "refdims_parse" => Pipelines.run(cfg, o, refDims = true)
          case "catalog" => Catalog.run(cfg, o)
        }
      }
    } finally {
      org.apache.spark.sql.SparkSession.getActiveSession.foreach(Harness.stop)
      org.apache.commons.io.FileUtils.deleteQuietly(work)
    }
    if (trace) o.detail("hw_after") = Env.hw(cfg)
    o.detail("wall_s") = (System.nanoTime() - wall0) / 1e9

    // a per-layer metric of a layer this workload does not run reads 0
    if (trace) {
      val idle = Metrics.perLayer.map(_._1).filterNot(o.perLayer.contains)
      o.detail("layers_not_run") = idle
      if (o.failures.failed.get == 0) idle.foreach(o.perLayer(_) = 0.0)
    }
    val wanted = if (trace) Metrics.perLayer else Metrics.endToEnd
    val have = if (trace) o.perLayer else o.endToEnd
    val failed = o.failures.failed.get
    val values = wanted.map { case (name, unit) =>
      (name, unit, have.get(name).filter(v => !v.isNaN && !v.isInfinity))
    }
    val metrics = values.map { case (name, unit, v) => name -> Map("value" -> v, "unit" -> unit) }
      .to(scala.collection.immutable.ListMap)
    val complete = values.forall(_._3.isDefined)
    val result = Map("correct" -> (failed == 0 && complete),
      "attempted" -> math.max(1L, o.failures.attempted.get), "failed" -> failed,
      "metrics" -> metrics)

    val results = new java.io.File(root, "results")
    results.mkdirs()
    val tag = s"$workload-seed${cfg.seed}-trace${if (trace) 1 else 0}"
    val artifact = Map("result" -> result, "detail" -> o.detail.toMap,
      "failures" -> o.failures.messages.toArray.toSeq, "end_to_end" -> o.endToEnd.toMap,
      "per_layer" -> o.perLayer.toMap)
    java.nio.file.Files.write(new java.io.File(results, s"$tag.json").toPath,
      Json.encode(artifact).getBytes("UTF-8"))
    if (trace) cfg.tracer.writeJsonl(new java.io.File(results, s"$tag.spans.jsonl").toPath)
    o.failures.messages.forEach(m => System.err.println(s"perfbench: $m"))
    println(Json.encode(Map("detail" -> o.detail.toMap)))
    println(Json.encode(result))
    System.out.flush()
    sys.exit(if (failed == 0 && complete) 0 else 1)
  }
}

/** Environment stamp recorded in every artifact. */
object Env {
  def stamp(cfg: Cfg): Map[String, Any] = Map(
    "nproc" -> cfg.nproc, "mem_total_kb" -> Harness.memTotalKb,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jvm" -> System.getProperty("java.vm.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"),
    "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
    "trace" -> cfg.trace, "size" -> (if (cfg.tiny) "tiny" else "full"))

  /** Hardware probe. A traced run records `HwCeiling.sample(1, nproc)`
    * before and after (~8 s each); an untraced run records the quick
    * single-thread probe once, before, so that probing does not dominate
    * its wall time.
    */
  def hw(cfg: Cfg): Map[String, Any] =
    if (cfg.trace) {
      val s = graft.HwCeiling.sample(1, cfg.nproc)
      Map("probe" -> "HwCeiling.sample", "low" -> 1, "high" -> cfg.nproc,
        "gflops_per_thread_low" -> s.perThreadLow, "gflops_per_thread_high" -> s.perThreadHigh,
        "simd_gflops_per_thread_low" -> s.simdLow, "simd_gflops_per_thread_high" -> s.simdHigh,
        "bw_gbps_per_thread_low" -> s.bwLow, "bw_gbps_per_thread_high" -> s.bwHigh)
    } else Map("probe" -> "HwCeiling.quickGflops1", "gflops_1_thread" -> graft.HwCeiling.quickGflops1())
}
