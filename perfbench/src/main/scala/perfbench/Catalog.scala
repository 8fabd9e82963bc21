package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import Harness._

/** catalog: a fixed slice of `SparkEntry.queries` on the bundled sf0.001
  * tables, each written in full to the noop sink in one fresh session.
  * The seed permutes the query order.
  */
object Catalog {
  val dataDir = "perfbench/data/sf0.001"
  val digestFile = "perfbench/catalog_digests.tsv"

  /** Query family of every catalog query. The per-family sums are the
    * per-layer metrics of `graft.ops`, `graft.functions` and `graft.kg`.
    */
  val familyOf: Map[String, String] = Seq(
    "text" -> Seq("q_tok_count", "q_quality", "q_langid", "q_fp_norm", "q_fp_poly",
      "q_repetition", "q_pii_scrub", "q_ngram_counts", "q_ngram_counts_hashed",
      "q_lm_perplexity", "q_ccnet_buckets", "q_tfidf_top", "q_pmi_colloc", "q_hll_distinct",
      "q_cms_topk", "q_nb_quality", "q_skipgram", "q_domain_kl", "q_bm25", "q_length_stats",
      "q_length_quantiles", "q_salted_wordcount", "q_vocab_encode", "q_json_roundtrip"),
    "dedup" -> Seq("q_dedup_exact", "q_dup_spans", "q_remove_dup_spans", "q_decontaminate",
      "q_bloom_decontaminate", "q_fuzzy_decontaminate", "q_jaccard_pairs", "q_minhash_dups",
      "q_simhash", "q_embed_dups", "q_semdedup", "q_dedup_cluster"),
    "subword" -> Seq("q_bpe_merges", "q_bpe_encode", "q_pack_bpe", "q_unigram_encode",
      "q_tok_compare", "q_bpe_fertility", "q_pack_sequences"),
    "ann" -> Seq("q_ann_topk", "q_ann_lsh", "q_ann_ivf", "q_ann_ivfpq", "q_ann_recall",
      "q_knn_graph", "q_kmeans"),
    "curate" -> Seq("q_dsir", "q_curate", "q_curate_dsir", "q_stratified_sample", "q_domain_mix"),
    "olap" -> Seq("q_bucketed_join", "q_rollup", "q_running_total", "q_agg_acc",
      "q_topk_orders", "q_join_agg", "q_distinct_sort", "q_acc_agg", "q_ingest_cusum",
      "q_events_window", "q_asof_join", "q_sessionize", "q_funnel", "q_retention"),
    "multimodal" -> Seq("q_media_features", "q_audio_features", "q_video_frames",
      "q_span_passthrough", "q_span_invariant"),
    "nlp" -> Seq("q_pipeline_tokens", "q_ner_spans", "q_morph_tags", "q_morph_feats",
      "q_syntax_parse", "q_triples", "q_triples_canonical", "q_entities", "q_uas_las")
  ).flatMap { case (f, qs) => qs.map(_ -> f) }.toMap ++
    SparkEntry.queries.keys.filter(_.startsWith("q_kg_")).map(_ -> "kg_analytics")

  val families: Seq[String] =
    Seq("text", "dedup", "subword", "ann", "curate", "olap", "multimodal", "nlp", "kg_analytics")

  /** The timed slice: one query of every family, with `q_kg_stories` for
    * the iterative analytics tail and `q_remove_dup_spans` for the work
    * `.count()` prunes. All 108 queries take ~45 s warm and ~90 s cold on
    * 4 cores, more than one run can spend.
    */
  val slice: Seq[String] = Seq(
    "q_bm25",
    "q_remove_dup_spans",
    "q_pack_sequences",
    "q_ann_ivf",
    "q_dsir",
    "q_join_agg",
    "q_media_features",
    "q_triples",
    "q_kg_stories")

  /** A query that always throws, added by `--inject-failure`. */
  val injected = "q_injected_failure"

  private def query(name: String): (SparkSession, String) => DataFrame =
    if (name == injected) (_, _) => throw new IllegalStateException("injected query failure")
    else SparkEntry.queries(name)

  def loadDigests(): Map[String, (Long, BigDecimal)] = {
    val src = scala.io.Source.fromFile(digestFile, "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split('\t')).map { a =>
      a(0) -> (a(1).toLong, BigDecimal(a(2)))
    }.toMap
    finally src.close()
  }

  def run(cfg: Cfg, o: Outcome): Unit = {
    val f = o.failures
    val dir = new java.io.File(dataDir).getAbsolutePath
    require(new java.io.File(dir, "documents.parquet").exists(), s"missing catalog data in $dataDir")
    val expected = loadDigests()
    val base = if (cfg.allQueries) SparkEntry.queries.keys.toSeq.sorted
      else if (cfg.tiny) slice.take(6) else slice
    val names = new scala.util.Random(cfg.seed).shuffle(base) ++
      (if (cfg.injectFailure) Seq(injected) else Nil)
    o.detail("query_order") = names

    // set-up, three times in fresh sessions: session start and the timed
    // fills of the two derivations most queries share
    var s: SparkSession = null
    val fills = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setups = (0 until 3).map { _ =>
      if (s != null) stop(s)
      secondsOf {
        s = session(cfg.nproc, cfg.work)
        fills += secondsOf {
          SparkEntry.parsed(s, dir).count()
          SparkEntry.canonicalTriples(s, dir).count()
        }._2
      }._2
    }
    o.endToEnd("setup_s") = Stats.median(setups)
    o.detail("setup_s") = Stats.summary(setups)
    o.detail("derive_fill_s") = Stats.summary(fills.toSeq)

    // the timed pass: cold queries, session-cached derivations fill on
    // whichever query the seed put first
    val (times, passS) = secondsOf(pass(cfg, f, s, dir, names, "noop"))
    o.detail("query_s") = times.toMap
    o.detail("query_s_summary") = Stats.summary(times.map(_._2))
    o.endToEnd("live_heap_mb") = liveHeapMb()

    var rows = 0L
    for (q <- names if q != injected) {
      f.attempt(s"$q digest")(digest(query(q)(s, dir))).foreach { case (n, d) =>
        rows += n
        f.check(s"$q digest matches $digestFile") {
          expected.get(q).contains((n, d))
        }
      }
    }
    o.detail("output_rows") = rows
    if (times.length == names.length) {
      o.endToEnd("run_s") = passS
      o.endToEnd("rows_per_s") = rows / passS
    }

    if (cfg.trace) traced(cfg, o, s, dir, names.filterNot(_ == injected), fills.toSeq)
    stop(s)
  }

  /** One pass over `names`; returns the wall time of each query that ran. */
  private def pass(cfg: Cfg, f: Failures, s: SparkSession, dir: String, names: Seq[String],
                   sink: String, tally: Option[Tally] = None,
                   stages: scala.collection.mutable.Map[String, Long] = null): Seq[(String, Double)] =
    names.flatMap { q =>
      f.attempt(s"$q $sink") {
        val before = tally.map(_.snapshot(s))
        val dt = cfg.tracer.span(q) {
          secondsOf(if (sink == "count") query(q)(s, dir).count() else noop(query(q)(s, dir)))._2
        }
        for (t <- tally; b <- before) stages(q) = (t.snapshot(s) - b).stages
        q -> dt
      }
    }

  /** Warm passes: untraced noop, traced noop, and `.count()` — the gap
    * between the last two is the work `.count()` lets Catalyst prune.
    */
  private def traced(cfg: Cfg, o: Outcome, s: SparkSession, dir: String, names: Seq[String],
                     fills: Seq[Double]): Unit = {
    val f = o.failures
    val plain = pass(cfg, f, s, dir, names, "noop")
    val tally = new Tally
    s.sparkContext.addSparkListener(tally)
    val stages = scala.collection.mutable.Map.empty[String, Long]
    val before = tally.snapshot(s)
    val (noopTimes, wall) = secondsOf(cfg.tracer.run("traced")(pass(cfg, f, s, dir, names, "noop", Some(tally), stages)))
    val d = tally.snapshot(s) - before
    s.sparkContext.removeSparkListener(tally)
    val counts = cfg.tracer.run("count")(pass(cfg, f, s, dir, names, "count"))

    val noopSum = noopTimes.map(_._2).sum
    o.perLayer("trace.overhead_frac") = noopSum / plain.map(_._2).sum - 1
    o.perLayer("spark.tasks") = d.tasks.toDouble
    o.perLayer("spark.stages") = d.stages.toDouble
    o.perLayer("spark.task_cpu_s") = d.cpuS
    o.perLayer("spark.cpu_util") = d.cpuS / (wall * cfg.nproc)
    o.perLayer("spark.gc_frac") = d.gcS / math.max(1e-9, d.runS)
    o.perLayer("spark.shuffle_write_mb") = d.shuffleWriteMb
    o.perLayer("spark.spill_mb") = d.spillMb
    val ts = noopTimes.map(_._2)
    o.perLayer("catalog.query_s.p50") = Stats.median(ts)
    // nine queries support no percentile with ten samples beyond it:
    // the tail reported is the slowest query
    o.perLayer("catalog.query_s.max") = ts.max
    o.perLayer("catalog.count_s") = counts.map(_._2).sum
    o.perLayer("catalog.noop_over_count") = noopSum / counts.map(_._2).sum
    for (fam <- families)
      o.perLayer(s"catalog.${fam}_s") = noopTimes.filter(q => familyOf(q._1) == fam).map(_._2).sum
    o.perLayer("catalog.kg_analytics_stages") =
      stages.filter(q => familyOf(q._1) == "kg_analytics").values.sum.toDouble
    o.perLayer("derive.fill_s") = Stats.median(fills)
    o.perLayer("derive.cached_mb") =
      s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val countOf = counts.toMap
    o.detail("noop_vs_count_s") = noopTimes.map { case (q, t) =>
      q -> Map("noop" -> t, "count" -> countOf.getOrElse(q, Double.NaN)) }.toMap
    o.detail("stages_per_query") = stages.toMap
  }

  /** Writes the digest of every query's output in a `graft.Verify` dump
    * (one parquet directory per query) to `out`, one tab-separated line each.
    */
  def recordDigests(dump: String, out: String): Unit = {
    val work = new java.io.File(".bench_build/work/record").getAbsoluteFile
    val s = session(Harness.nproc, work.getPath)
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      val (n, d) = digest(s.read.parquet(s"$dump/$q"))
      s"$q\t$n\t$d"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      ("# query\trows\tdigest (perfbench Harness.digest of a graft.Verify dump)\n" +
        lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
    stop(s)
    org.apache.commons.io.FileUtils.deleteQuietly(work)
  }
}
