package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.runtime.KgJob
import Harness._

/** graft.runtime layer, measured in the traced kg_pipeline run: `KgJob.run`
  * over the run's seeded documents in the `bucket=<k>` input layout,
  * stopped at half by `failAfterBuckets`, resumed, and read back with
  * `KgJob.triples`. It links with `Kg.link`, the join form, so a read-path
  * gain that costs the write path shows here.
  */
object Commit {
  def traced(cfg: Cfg, o: Outcome, s: SparkSession, input: DocRange): Unit = {
    val f = o.failures
    val buckets = if (cfg.tiny) 4 else 8
    val inDir = s"${cfg.work}/bucketed"
    val expected = input.goldenTriples
    o.detail("runtime_buckets") = buckets
    input.docs(s, 2 * cfg.nproc)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int"))
      .write.partitionBy("bucket").mode("overwrite").parquet(inDir)

    var rep = 0
    def job(tally: Option[Tally]): Option[Job] = {
      val j = new Job(cfg, s, inDir, s"${cfg.work}/kgjob$rep", buckets, tally)
      rep += 1
      f.attempt(s"KgJob ${j.outDir}")(j.run()).map(_ => j)
    }
    job(None) // warm-up
    val tally = new Tally
    s.sparkContext.addSparkListener(tally)
    val jobs = (0 until 2).flatMap(i => cfg.tracer.run(s"kgjob$i")(job(Some(tally))))
    s.sparkContext.removeSparkListener(tally)
    for (j <- jobs) {
      f.check(s"${j.outDir}: committed triples ${j.triples} == golden $expected")(j.triples == expected)
      f.check(s"${j.outDir}: one exact commit row per bucket")(
        j.commitBuckets.sorted == (0 until buckets) && j.exact)
    }
    if (jobs.isEmpty) return
    o.detail("runtime_job_s") = Stats.summary(jobs.map(_.wall))
    o.perLayer("runtime.jobs_per_bucket") = jobs.map(_.spark.jobs).sum.toDouble / jobs.length / buckets
    val bs = jobs.flatMap(_.bucketS)
    o.perLayer("runtime.bucket_s.p50") = Stats.median(bs)
    // two jobs of 8 buckets support no percentile with ten samples beyond
    // it: the tail reported is the slowest bucket
    o.perLayer("runtime.bucket_s.max") = bs.max
    o.detail("runtime_bucket_s") = Stats.summary(bs)
    o.perLayer("runtime.bucket_growth") = Stats.median(jobs.map { j =>
      val q = math.max(1, j.bucketS.length / 4)
      Stats.median(j.bucketS.takeRight(q)) / Stats.median(j.bucketS.take(q))
    })
    o.perLayer("runtime.bytes_per_triple") = Stats.median(jobs.map(j => j.tripleBytes.toDouble / j.triples))
    o.perLayer("runtime.written_mb") = Stats.median(jobs.map(_.writtenBytes / 1048576.0))
    o.perLayer("runtime.resume_s") = Stats.median(jobs.map(_.resumeS))
    o.perLayer("runtime.readback_s") = Stats.median(jobs.map(_.readbackS))
  }

  private def bytesUnder(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else org.apache.commons.io.FileUtils.listFiles(dir, null, true).toArray
      .map(_.asInstanceOf[java.io.File]).filter(_.getName.endsWith(".parquet")).map(_.length).sum

  /** One job: run to half, resume, read back; then the commit log. */
  private final class Job(cfg: Cfg, s: SparkSession, inDir: String, val outDir: String,
                          buckets: Int, tally: Option[Tally]) {
    var wall, resumeS, readbackS = 0.0
    var triples = 0L
    var commitBuckets = Seq.empty[Int]
    var exact = false
    var bucketS = Seq.empty[Double]
    var tripleBytes, writtenBytes = 0L
    var spark: SparkTotals = _

    def run(): Unit = {
      val before = tally.map(_.snapshot(s))
      val t0 = System.currentTimeMillis()
      var t1 = t0
      val (_, w) = secondsOf {
        val half = buckets / 2
        val stopped = try {
          cfg.tracer.span("runtime.run_to_half")(KgJob.run(s, "", outDir, "first",
            nBuckets = buckets, failAfterBuckets = half, bucketedInputDir = Some(inDir)))
          false
        } catch { case e: RuntimeException if e.getMessage.startsWith("injected failure") => true }
        require(stopped, "failAfterBuckets did not stop the job")
        t1 = System.currentTimeMillis()
        val (done, r) = secondsOf(cfg.tracer.span("runtime.resume")(KgJob.run(s, "", outDir, "resume",
          nBuckets = buckets, bucketedInputDir = Some(inDir))))
        require(done == buckets - half, s"resume processed $done buckets, expected ${buckets - half}")
        resumeS = r
        readbackS = secondsOf(cfg.tracer.span("runtime.readback")(noop(KgJob.triples(s, outDir))))._2
      }
      wall = w
      spark = tally.map(t => t.snapshot(s) - before.get).orNull
      // untimed: what the job committed
      triples = KgJob.triples(s, outDir).count()
      val log = KgJob.commitLog(s, outDir).select("run_id", "bucket", "committed_at", "counters_exact")
        .orderBy("seq").collect()
      commitBuckets = log.map(_.getInt(1)).toSeq
      exact = log.forall(_.getBoolean(3))
      // per-bucket wall time from successive commit rows; the first bucket
      // of each run starts when the run was called
      var prev = Map("first" -> t0, "resume" -> t1)
      bucketS = log.toSeq.map { r =>
        val id = r.getString(0); val at = r.getLong(2)
        val dt = (at - prev(id)) / 1000.0
        prev += id -> at
        dt
      }
      tripleBytes = bytesUnder(new java.io.File(outDir, "triples"))
      writtenBytes = bytesUnder(new java.io.File(outDir))
    }
  }
}
