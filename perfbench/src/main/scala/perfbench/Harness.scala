package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}

/** Order statistics used for every reported timing. */
object Stats {
  /** Quartiles as Python's `statistics.quantiles(xs, n=4)` (exclusive
    * method) gives them, so the benchmark's own spreads match the ones a
    * reader recomputes from the artifact.
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    if (n == 1) return (s(0), s(0), s(0))
    def at(i: Int): Double = {
      val m = (n + 1) * i.toDouble / 4
      val j = math.min(math.max(m.floor.toInt, 1), n - 1)
      val d = m - j
      s(j - 1) + (s(j) - s(j - 1)) * d
    }
    (at(1), median(s), at(3))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median, quartiles and sample count as one artifact entry. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val (q1, q2, q3) = quartiles(xs)
    Map("median" -> q2, "q1" -> q1, "q3" -> q3, "n" -> xs.length)
  }
}

/** One span at a layer boundary. Times are ns from the run's origin. */
final case class Span(name: String, start: Long, end: Long, parent: String, runId: String)

/** In-memory span recorder; written out once, when the run ends. A
  * disabled tracer runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val origin = System.nanoTime()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[String]] { override def initialValue() = Nil }
  private val current = new ThreadLocal[String] { override def initialValue() = runId }

  /** Spans recorded inside `body` share the run id `runId/id`. */
  def run[A](id: String)(body: => A): A = {
    current.set(s"$runId/$id")
    try span("run")(body) finally current.set(runId)
  }

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val parent = stack.get.headOption.getOrElse("")
    stack.set(name :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(name, t0 - origin, System.nanoTime() - origin, parent, current.get))
      stack.set(stack.get.tail)
    }
  }

  def all: Seq[Span] = spans.toArray(new Array[Span](0)).toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map(s => Json.encode(Map("name" -> s.name, "start_ns" -> s.start,
      "end_ns" -> s.end, "parent" -> s.parent, "run_id" -> s.runId)))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Listener totals at one instant; the difference of two is what ran between. */
final case class SparkTotals(tasks: Long, stages: Long, jobs: Long, cpuS: Double, runS: Double,
                             gcS: Double, shuffleWriteMb: Double, spillMb: Double) {
  def -(o: SparkTotals): SparkTotals =
    SparkTotals(tasks - o.tasks, stages - o.stages, jobs - o.jobs, cpuS - o.cpuS, runS - o.runS,
      gcS - o.gcS, shuffleWriteMb - o.shuffleWriteMb, spillMb - o.spillMb)
}

/** Task and stage totals from one listener the benchmark registers itself.
  * `snapshot` drains the listener bus first, so totals taken right after
  * an action include all of its tasks.
  */
final class Tally extends SparkListener {
  val tasks = new AtomicLong
  val stages = new AtomicLong
  val jobs = new AtomicLong
  val cpuNs = new AtomicLong
  val runMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  def snapshot(spark: SparkSession): SparkTotals = {
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
    SparkTotals(tasks.get, stages.get, jobs.get, cpuNs.get / 1e9, runMs.get / 1e3, gcMs.get / 1e3,
      shuffleWrite.get / 1048576.0, spill.get / 1048576.0)
  }
}

object Harness {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def memTotalKb: Long =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemTotal:")).get.split("\\s+")(1).toLong
      finally src.close()
    }.getOrElse(-1L)

  /** A fresh local session sized from the core count it is given. Scratch
    * space and the warehouse stay under the run's work dir; small parquet
    * files are not packed together, so a scan runs one task per file.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.files.openCostInBytes", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def secondsOf[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body` until `seconds` have passed and at least `minReps` ran. */
  def repeatFor(seconds: Double, minReps: Int)(body: Int => Double): Seq[Double] = {
    val until = System.nanoTime() + (seconds * 1e9).toLong
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (out.length < minReps || System.nanoTime() < until)
      out += body(out.length)
    out.toSeq
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Heap in use after full collections, in MB. Spark's context cleaner
    * frees shuffle and broadcast state only once a collection has queued
    * their references, so collect, let it run, and collect again.
    */
  def liveHeapMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    System.gc()
    bean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Order-insensitive digest of every column of `df`: row count plus the
    * exact sum of a 64-bit hash of each row's JSON form. Floating columns
    * are printed at 12 significant digits first, so a last-bit difference
    * in a floating sum does not change the digest.
    */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType =>
          format_string("%.12g", col(s"`${f.name}`")).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }
    val h = xxhash64(to_json(struct(cols: _*))).cast(DecimalType(38, 0))
    val r = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast(DecimalType(38, 0))))
      .collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Records the first failure message, for the artifact. */
  final class Failures {
    val attempted = new AtomicLong
    val failed = new AtomicLong
    val messages = new ConcurrentLinkedQueue[String]()

    /** One attempted operation; an exception counts it as failed. */
    def attempt[A](what: String)(body: => A): Option[A] = {
      attempted.incrementAndGet()
      try Some(body)
      catch {
        case e: Throwable =>
          failed.incrementAndGet()
          messages.add(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
          None
      }
    }

    /** One output check. */
    def check(what: String)(ok: => Boolean): Unit = {
      attempted.incrementAndGet()
      val pass = try ok catch { case e: Throwable =>
        messages.add(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"); false }
      if (!pass) { failed.incrementAndGet(); messages.add(s"check failed: $what") }
    }
  }
}

/** Minimal JSON encoder for the result line and the artifacts. */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
