package perfbench

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.kg.Kg
import graft.nlp.{Pipeline, SentRow}
import graft.pack.{ModelPack, SynthPack}
import graft.sources.{Docs, InterleavedDoc}
import graft.text.Tokenizer
import Harness._

/** kg_pipeline (toy pack: scan -> sentences -> parse -> triples ->
  * linkCanonicalize -> noop) and refdims_parse (reference-dims pack: scan
  * -> sentences -> parse -> noop).
  */
object Pipelines {

  /** One leg: a session at `cores` with the pack broadcast and the chain
    * over the written input, prefix by prefix.
    */
  private final class Leg(val s: SparkSession, val pack: Broadcast[ModelPack], dir: String,
                          split: Long, refDims: Boolean) {
    s.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
    import s.implicits._
    def sentences = Docs.sentences(s.read.parquet(dir).as[InterleavedDoc])
    def parsed = Pipeline.parse(sentences, pack)
    def triples = Kg.triples(parsed)
    def output: DataFrame = if (refDims) parsed.toDF() else Kg.linkCanonicalize(s, triples)
    /** Layer prefixes, each timed to the noop sink; the last is the whole run. */
    def prefixes: Seq[(String, () => DataFrame)] =
      Seq[(String, () => DataFrame)]("sources.sentences" -> (() => sentences.toDF()),
        "nlp.parse" -> (() => parsed.toDF())) ++
        (if (refDims) Nil else Seq[(String, () => DataFrame)](
          "kg.extract" -> (() => triples.toDF()), "kg.link" -> (() => output)))
  }

  def run(cfg: Cfg, o: Outcome, refDims: Boolean): Unit = {
    val f = o.failures
    val nDocs = (refDims, cfg.tiny) match {
      case (false, false) => 20000L
      case (false, true) => 2000L
      case (true, false) => 1000L
      case (true, true) => 200L
    }
    val input = DocRange(cfg.seed, nDocs)
    o.detail("input") = input.stamp()
    val dir = s"${cfg.work}/docs"
    val files = 2 * cfg.nproc
    def outRows = if (refDims) input.sentences else input.goldenTriples

    // set-up, three times in fresh sessions: session start, pack build
    // and broadcast, input write
    var leg: Leg = null
    var refPack: ModelPack = null
    def broadcastPack(s: SparkSession) =
      if (refDims) s.sparkContext.broadcast(refPack) else SparkEntry.packBc(s)
    val setups = (0 until 3).map { _ =>
      if (leg != null) stop(leg.s)
      secondsOf {
        val s = session(cfg.nproc, cfg.work)
        if (refDims) refPack = SynthPack.buildRandom()
        leg = new Leg(s, broadcastPack(s), dir, input.write(s, dir, files), refDims)
      }._2
    }
    val split = leg.s.conf.get("spark.sql.files.maxPartitionBytes").toLong
    o.endToEnd("setup_s") = Stats.median(setups)
    o.detail("setup_s") = Stats.summary(setups)
    // a pass keeps getting faster over its first ~10 repetitions, input
    // size aside (query planning warms up per pass): warm up by count
    val warmups = if (cfg.tiny) 2 else 6
    o.detail("warmup_s") = (0 until warmups).map(_ => secondsOf(noop(leg.output))._2)

    val reps = timedReps(cfg, f, leg, cfg.seconds)
    if (reps.nonEmpty) {
      o.endToEnd("run_s") = Stats.median(reps)
      o.endToEnd("rows_per_s") = outRows / Stats.median(reps)
    }
    o.detail("run_s") = Stats.summary(reps) + ("samples" -> reps)
    o.endToEnd("live_heap_mb") = liveHeapMb()

    val (rows, dig) = f.attempt("output digest")(digest(leg.output)).getOrElse((-1L, BigDecimal(0)))
    o.detail("output_rows") = rows
    o.detail("output_digest") = dig.toString
    if (refDims) f.check(s"parsed sentences $rows == generated ${input.sentences}")(rows == input.sentences)
    else f.check(s"triples $rows == golden ${input.goldenTriples}")(rows == input.goldenTriples)

    if (cfg.trace) {
      traced(cfg, o, leg, input)
      if (!refDims) Commit.traced(cfg, o, leg.s, input)
    }

    // single-core leg on the same input: the refdims digest check always,
    // and scaling_eff in a traced run
    stop(leg.s)
    if (!refDims && !cfg.trace) return
    val s1 = session(1, cfg.work)
    val one = new Leg(s1, broadcastPack(s1), dir, split, refDims)
    if (refDims) {
      val (rows1, dig1) = f.attempt("local[1] digest")(digest(one.output)).getOrElse((-1L, BigDecimal(0)))
      f.check("parse output identical at local[1] and local[nproc]")(rows1 == rows && dig1 == dig)
    }
    if (cfg.trace) {
      if (!refDims) noop(one.output) // warms the new session, as the digest does for refdims
      val reps1 = timedReps(cfg, f, one, cfg.seconds / 2.0, minReps = 2)
      o.detail("local1_run_s") = Stats.summary(reps1)
      if (reps1.nonEmpty && reps.nonEmpty)
        o.perLayer("scaling_eff") = Stats.median(reps1) / (cfg.nproc * Stats.median(reps))
    }
    stop(one.s)
  }

  private def timedReps(cfg: Cfg, f: Failures, leg: Leg, seconds: Double,
                        minReps: Int = 3): Seq[Double] =
    repeatFor(seconds, minReps) { i =>
      f.attempt(s"timed rep $i")(secondsOf(noop(leg.output))._2).getOrElse(Double.NaN)
    }.filterNot(_.isNaN)

  /** Per-layer numbers: each prefix timed to the noop sink under the
    * benchmark's listener, counts from the parse output, and the
    * single-thread layer probes.
    */
  private def traced(cfg: Cfg, o: Outcome, leg: Leg, input: DocRange): Unit = {
    val s = leg.s
    val f = o.failures
    val tally = new Tally
    val times = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    val cpu = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    var whole = Seq.empty[(SparkTotals, Double)]
    var untraced = Seq.empty[Double]
    val prefixes = leg.prefixes
    // untraced and traced repetitions alternate, so that drift in the
    // CPU speed does not land on one side of the overhead ratio
    for (rep <- 0 until 5) {
      f.attempt(s"untraced rep $rep")(untraced :+= secondsOf(noop(leg.output))._2)
      s.sparkContext.addSparkListener(tally)
      cfg.tracer.run(s"rep$rep") {
        prefixes.foreach { case (name, df) =>
          f.attempt(s"traced $name") {
            val before = tally.snapshot(s)
            val dt = cfg.tracer.span(name)(secondsOf(noop(df()))._2)
            val d = tally.snapshot(s) - before
            times(name) :+= dt
            cpu(name) :+= d.cpuS
            if (name == prefixes.last._1) whole :+= (d -> dt)
          }
        }
      }
      s.sparkContext.removeSparkListener(tally)
    }
    def med(name: String) = Stats.median(times(name))
    o.detail("traced_prefix_s") = prefixes.map(p => p._1 -> Stats.summary(times(p._1))).toMap
    val last = prefixes.last._1
    if (untraced.nonEmpty && times(last).nonEmpty)
      o.perLayer("trace.overhead_frac") = med(last) / Stats.median(untraced) - 1
    if (whole.nonEmpty) {
      val n = whole.length.toDouble
      val snaps = whole.map(_._1)
      val wall = whole.map(_._2).sum
      o.perLayer("spark.tasks") = snaps.map(_.tasks).sum / n
      o.perLayer("spark.stages") = snaps.map(_.stages).sum / n
      o.perLayer("spark.task_cpu_s") = snaps.map(_.cpuS).sum / n
      o.perLayer("spark.cpu_util") = snaps.map(_.cpuS).sum / (wall * cfg.nproc)
      o.perLayer("spark.gc_frac") = snaps.map(_.gcS).sum / math.max(1e-9, snaps.map(_.runS).sum)
      o.perLayer("spark.shuffle_write_mb") = snaps.map(_.shuffleWriteMb).sum / n
      o.perLayer("spark.spill_mb") = snaps.map(_.spillMb).sum / n
    }
    o.perLayer("sources.sentences_s") = med("sources.sentences")
    o.perLayer("nlp.parse_s") = med("nlp.parse") - med("sources.sentences")
    if (prefixes.length > 2) {
      o.perLayer("kg.extract_s") = med("kg.extract") - med("nlp.parse")
      o.perLayer("kg.link_s") = med("kg.link") - med("kg.extract")
    }

    // counts from the parse output
    f.attempt("parse counts") {
      val r = leg.parsed.select(size(col("tokens")).cast("long").as("n"))
        .agg(count(lit(1)), sum(col("n")), sum(col("n") * (col("n") + 1)),
          sum(when(col("n") > Pipeline.DefaultMaxSeqLen, 1L).otherwise(0L)))
        .collect()(0)
      val sents = r.getLong(0); val tokens = r.getLong(1)
      o.perLayer("nlp.sents") = sents.toDouble
      o.perLayer("nlp.tokens") = tokens.toDouble
      o.perLayer("nlp.oversize_sents") = r.getLong(3).toDouble
      val flops = Flops.parse(leg.pack.value, tokens, r.getLong(2))
      o.detail("kernel_flops") = Map("value" -> flops,
        "how" -> "computed from the pack dims and the real token counts (dense-equivalent), not measured")
      val parseCpu = Stats.median(cpu("nlp.parse").zip(cpu("sources.sentences")).map { case (a, b) => a - b })
      val perThread = flops / parseCpu / 1e9
      o.perLayer("kernel.gflops_per_thread") = perThread
      val simd = o.detail.get("hw_before").collect { case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]]("simd_gflops_per_thread_low") }
      simd.collect { case v: Double if v > 0 => o.perLayer("kernel.simd_ceiling_frac") = perThread / v }
      if (prefixes.length > 2) {
        val k = leg.output.agg(count(lit(1)),
          sum(when(col("subj_id").startsWith("M:"), 0L).otherwise(1L)) +
            sum(when(col("obj_id").startsWith("M:"), 0L).otherwise(1L))).collect()(0)
        o.perLayer("kg.triples_per_sent") = k.getLong(0).toDouble / sents
        o.perLayer("kg.linked_frac") = k.getLong(1).toDouble / (2.0 * k.getLong(0))
      }
    }

    // single-thread layer probes over the first documents of the input
    val texts = input.texts(if (cfg.tiny) 200 else 1000)
    o.perLayer("text.sentenize_ns_per_sent") = nsPer(cfg.tracer, "text.sentenize") {
      texts.iterator.map(t => Tokenizer.sentenize(t).length.toLong).sum
    }
    o.perLayer("text.tokenize_ns_per_sent") = nsPer(cfg.tracer, "text.tokenize") {
      texts.foreach(Tokenizer.tokenize); texts.length.toLong
    }
    val rows = texts.take(1024).zipWithIndex.map { case (t, i) =>
      SentRow(s"p$i", 0, 0, 0, t.length, t) }.sortBy(_.text.length)
    val p = leg.pack.value
    o.perLayer("nlp.infer_us_per_sent") = nsPer(cfg.tracer, "nlp.infer") {
      val ws = new graft.kernel.Workspace
      rows.grouped(64).foreach(b => Pipeline.inferBatch(b, p, ws))
      rows.length.toLong
    } / 1000
  }

  /** ns per item of `body`, repeated for at least 0.3 s after one warm-up. */
  private def nsPer(tracer: Tracer, name: String)(body: => Long): Double = tracer.span(name) {
    body
    var items = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) items += body
    (System.nanoTime() - t0).toDouble / items
  }
}

/** FLOPs of the fused parse, computed from the pack dims: conv trunks and
  * projections per real token, the biaffine head scores per token pair
  * (sum over sentences of S*(S+1)), the CRF forward per token.
  */
object Flops {
  def parse(p: ModelPack, tokens: Long, pairs: Long): Double = {
    def conv(e: graft.kernel.CNNEncoder): Double =
      e.layers.map(l => 2.0 * l.conv.filters * l.conv.inDim * l.conv.kernel).sum
    def lin(l: graft.kernel.Linear): Double = 2.0 * l.inDim * l.outDim
    val h = p.syntax.head.hidden
    val tags = p.ner.crf.tags
    val perToken = conv(p.ner.encoder) + conv(p.morph.encoder) + conv(p.syntax.encoder) +
      lin(p.ner.proj) + 2.0 * tags * tags + lin(p.morph.proj) +
      lin(p.syntax.head.head.proj) + lin(p.syntax.head.tail.proj) + 2.0 * h * h +
      lin(p.syntax.rel.head.proj) + lin(p.syntax.rel.tail.proj) + 2.0 * h * h * p.syntax.rel.rels
    perToken * tokens + 2.0 * h * pairs
  }
}
