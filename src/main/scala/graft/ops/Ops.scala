package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F

/** Text analysis ops for training-data pipelines (language-ID, quality
  * scoring, token counting, fingerprinting). All expressed with built-in
  * codegen'd functions + our native expressions — no UDFs, filters and
  * projections stay pushdown-able.
  */
object TextStats {

  /** Tokenizer pattern shared verbatim with the DuckDB oracle SQL:
    * identical semantics in Java regex and RE2 (explicit unicode classes;
    * reference analogue: bert_chunks `\w+|[^\w\s]`, slovnet/bert.py:5-9).
    */
  val TokRe = "[\\p{L}\\p{N}_]+|[^\\p{L}\\p{N}_\\s]"

  def tokens(c: Column): Column = regexp_extract_all(c, lit(TokRe), lit(0))

  /** Per-doc quality metrics. */
  def quality(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "in", "to")
    val t = docs.withColumn("toks", tokens(col("text")))
    t.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(col("toks")).cast("long").as("n_tokens"),
      round(
        size(filter(col("toks"), x => x.isin(stop.map(lit(_)): _*))) /
          greatest(size(col("toks")), lit(1)).cast("double"), 6)
        .as("stopword_ratio"),
      round(
        size(filter(col("toks"), x => x.rlike("^[\\p{L}]+$"))) /
          greatest(size(col("toks")), lit(1)).cast("double"), 6)
        .as("alpha_ratio"),
      round(
        length(regexp_replace(col("text"), "[^.,!?;:]", "")) /
          greatest(length(col("text")), lit(1)).cast("double"), 6)
        .as("punct_ratio"))
  }

  /** n-gram-heuristic language ID: Cyrillic vs Latin char mass + a tiny
    * stopword vote. Deterministic, SQL-free of UDFs.
    */
  def langId(docs: DataFrame): DataFrame = {
    val cyr = length(regexp_replace(col("text"), "[^а-яёА-ЯЁ]", ""))
    val lat = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
    docs.select(col("doc_id"),
      when(cyr > lat, "ru").when(lat > 0, "en").otherwise("unk").as("lang_pred"))
  }

  /** Gopher/C4-style repetition metrics, entirely ROW-LOCAL (no shuffle,
    * stays inside whole-stage codegen): dup_word_ratio = 1 − distinct/total
    * words; top_bigram_ratio = occurrences of the most frequent adjacent
    * word pair / (n−1). The per-row bigram count is O(n²) over short web
    * docs — cheaper than a per-doc groupBy shuffle at corpus scale.
    */
  def repetition(docs: DataFrame): DataFrame = {
    // tokens/bigrams MATERIALIZED as columns before any lambda touches
    // them: Catalyst does not CSE an expression into a higher-order
    // lambda, so referencing the raw regexp_extract_all inside
    // transform()/filter() re-runs the extraction per ELEMENT —
    // O(tokens²) regex work per doc (measured 11× on q_ngram_counts)
    val t = col("toks"); val n = size(t)
    val bigramExpr = when(n >= 2,
      transform(sequence(lit(0), n - 2),
        i => concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2))))
      .otherwise(array())
    val bigrams = col("bigrams")
    val topBg = coalesce(
      array_max(transform(bigrams, b => size(filter(bigrams, x => x === b)))),
      lit(0))
    docs.select(col("doc_id"), tokens(F.lower_simple(col("text"))).as("toks"))
      .select(col("doc_id"), t, bigramExpr.as("bigrams"))
      .select(col("doc_id"),
        round(lit(1.0) - size(array_distinct(t)) / greatest(n, lit(1)).cast("double"), 6)
          .as("dup_word_ratio"),
        round(topBg / greatest(n - 1, lit(1)).cast("double"), 6)
          .as("top_bigram_ratio"))
  }

  // PII patterns, chosen to mean the same thing in Java regex (Spark) and
  // RE2 (DuckDB oracle): no backrefs, no lookaround. Replacement order is
  // fixed (URL first, so credentials inside URLs collapse into <URL>).
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"
  private val IpRe = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  private val PhoneRe = "\\+\\d[\\d\\-() ]{8,}\\d"

  /** PII scrubbing for training corpora: redact emails / URLs / IPv4s /
    * international-format phone numbers and count each class. Pure
    * row-local projection — whole-stage codegen, no shuffle, no UDF; the
    * counts are computed on the ORIGINAL text (replacement order cannot
    * hide a class), the redaction chain is deterministic.
    */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def n(re: String) = size(regexp_extract_all(t, lit(re), lit(0))).cast("long")
    docs.select(
      col("doc_id"),
      n(EmailRe).as("n_emails"),
      n(UrlRe).as("n_urls"),
      n(IpRe).as("n_ips"),
      n(PhoneRe).as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(t, UrlRe, "<URL>"),
            EmailRe, "<EMAIL>"),
          IpRe, "<IP>"),
        PhoneRe, "<PHONE>").as("clean"))
  }

  /** Corpus-level n-gram counts (n >= 1), the classic LM-data statistic.
    * Row-local n-gram build (codegen) -> explode -> two-phase hash
    * aggregate: partial map-side combine collapses hot n-grams inside
    * each task before the single shuffle on the n-gram key, so Zipfian
    * skew costs no straggler (same shape as a salted wordcount but the
    * partial agg already does the salting's job for count-like merges).
    */
  /** Token array is materialized into a column BEFORE the gram lambda:
    * Catalyst does not CSE into higher-order-function lambdas, so an
    * unbound `tokens(...)` referenced via element_at inside transform()
    * re-runs the regex extraction per gram — O(tokens²) per doc
    * (measured: 6.9 s → 0.6 s on the sf0.1 catalog query).
    */
  private def gramRows(docs: DataFrame, n: Int): DataFrame = {
    val toks = col("toks")
    val grams =
      if (n == 1) toks
      else when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ",
            (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
        .otherwise(array(Seq.empty[Column]: _*).cast("array<string>"))
    docs.select(tokens(F.lower_simple(col("text"))).as("toks"))
      .select(explode(grams).as("ngram"))
  }

  def ngramCounts(docs: DataFrame, n: Int = 2, minCount: Long = 1): DataFrame = {
    require(n >= 1, s"ngramCounts: n must be >= 1, got $n")
    gramRows(docs, n)
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** Shuffle-diet variant of [[ngramCounts]] for the 100 TB path: the
    * count aggregation shuffles ONLY xxhash64(gram) (8-byte keys, ~4×
    * fewer shuffle bytes than gram text), then a second corpus pass
    * recovers the surviving grams' text — per-partition deduped BEFORE
    * its shuffle (groupBy(hash).min(gram) partial-aggregates map-side),
    * and joined to the survivor counts (broadcast by hint: this variant
    * presumes minCount prunes survivors to broadcastable size — with
    * minCount=1 use [[ngramCounts]]). Trade: tokenization runs twice, so
    * single-node this only wins when shuffle I/O dominates CPU — use the
    * one-scan [[ngramCounts]] locally and this shape on a real cluster.
    * Collision note: two grams sharing an xxhash64 would merge counts
    * (p ≈ n²/2^65 — negligible below ~10^9 distinct grams; swap in a
    * 128-bit hash beyond that).
    */
  def ngramCountsHashed(docs: DataFrame, n: Int = 2, minCount: Long = 1): DataFrame = {
    require(n >= 1, s"ngramCountsHashed: n must be >= 1, got $n")
    val exploded = gramRows(docs, n)
    val survivors = exploded
      .select(xxhash64(col("ngram")).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
    // semi-join BEFORE the text dedup so non-survivors are dropped
    // map-side (broadcast under AQE) and never shuffle their text. The
    // representative text per hash is array_min(collect_set(...)), NOT
    // min(...): min over strings has no mutable unsafe-row buffer, so
    // Spark plans it as SortAggregate — a full sort of the gram stream
    // (measured 10× the one-scan variant; and a staged keys-only dedup
    // aggregate before the min gets collapsed away by Catalyst's
    // RemoveRedundantAggregates). collect_set is a
    // TypedImperativeAggregate → ObjectHashAggregate: hash-based,
    // map-side partial, per-group state ~1 gram (hash collisions only);
    // group count = survivors, already presumed broadcast-small above.
    // array_min keeps the collision tiebreak deterministic.
    exploded
      .select(xxhash64(col("ngram")).as("gh"), col("ngram"))
      .join(survivors.hint("broadcast"), Seq("gh"))
      .groupBy("gh", "n").agg(array_min(collect_set("ngram")).as("ngram"))
      .select(col("ngram"), col("n"))
  }

  /** CCNet-style corpus LM quality scoring: train an add-one-smoothed
    * bigram language model on the corpus, then score every document's
    * perplexity under it — the classic "how typical is this document"
    * filter signal for training-data curation (CCNet scores CommonCrawl
    * with a Wikipedia LM; here the model corpus and the scored corpus
    * are the same table, which ranks documents by in-corpus typicality —
    * pass a different `model` frame to reproduce the CCNet split).
    *
    * p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V); c(w1) is w1's total
    * occurrence count, V the distinct-token count.
    *
    * EXACTNESS CONTRACT: per-bigram log-probs are fixed to integer
    * micro-nats — floor(ln(p)·10^6 + 0.5) as BIGINT — before summing.
    * A float sum's value depends on partition order (fp addition is not
    * associative), so a double-summed score would differ run to run and
    * engine to engine; integer sums are exact in any order, and the only
    * transcendental evaluated per row maps to the oracle bit-for-bit
    * except at ~1e-13-probability rounding boundaries.
    *
    * Physical shape: one tokenize pass feeds the two count aggregations
    * (two-phase, map-side combine absorbs Zipfian skew exactly like
    * [[ngramCounts]]); scoring is two equi-joins of the bigram stream
    * against the count tables (shuffle joins at scale — the LM of a
    * 100 TB corpus is not broadcastable; AQE may downgrade to broadcast
    * when it is) plus a broadcast single-row V. Docs with <2 tokens have
    * no bigrams and are absent from the output (documented contract).
    */
  def lmPerplexity(docs: DataFrame, model: DataFrame = null): DataFrame =
    lmPerplexityFrom(lmScoreMicro(docs, model))

  /** Projection tail of [[lmPerplexity]] over a precomputed
    * [[lmScoreMicro]] frame — callers session-caching the integer score
    * table (it also feeds [[ccnetBuckets]]) skip the second LM build.
    */
  def lmPerplexityFrom(scored: DataFrame): DataFrame = {
    val avg = -(col("sum_mn").cast("double") / (col("n_grams") * lit(1e6)))
    scored.select(col("doc_id"), col("n_grams"),
      round(avg, 6).as("avg_neg_logp"),
      round(exp(avg), 6).as("perplexity"))
  }

  /** Integer core of [[lmPerplexity]]: (doc_id, n_grams, sum_mn) with
    * sum_mn the exact BIGINT micro-nat log-prob sum — the partition-order
    * exact frame [[ccnetBuckets]] keys on; [[lmPerplexity]] is a pure
    * projection of this.
    */
  def lmScoreMicro(docs: DataFrame, model: DataFrame = null): DataFrame = {
    val lm = Option(model).getOrElse(docs)
    def toked(d: DataFrame) =
      d.select(col("doc_id"), tokens(F.lower_simple(col("text"))).as("toks"))
    // toks is materialized into a column BEFORE the gram lambda (the
    // gramRows CSE note applies: an unbound reference inside transform()
    // re-runs the regex per gram)
    def bigrams(d: DataFrame) = toked(d).select(col("doc_id"),
      explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("g"))
      .select(col("doc_id"), col("g.w1"), col("g.w2"))
    val big = bigrams(lm).groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = toked(lm).select(explode(col("toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v")) // 1 row -> broadcast cross
    // left joins + coalesce(0): a scored bigram/token the LM never saw
    // backs off to the smoothing floor instead of being dropped (matters
    // only when `model` differs from `docs`)
    val mn = floor(log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")) * 1e6 + 0.5)
      .cast("long")
    bigrams(docs)
      .join(big, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), mn.as("mn"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("mn").as("sum_mn"))
  }

  /** CCNet's head/middle/tail corpus split: per language, rank documents
    * by LM score and cut the distribution into terciles (Wenzek et al.
    * 2020 keep "head" for training, sample "middle", drop "tail").
    *
    * VALUE-BASED bucketing, not row-ntile: the ranking key is the exact
    * integer per-gram average `ppl_pico = (−sum_mn)·10^6 div n_grams`
    * (pico-nats/gram, BIGINT — no float enters the ordering), and every
    * document sharing a key value lands in the same bucket (the bucket of
    * the key run's FIRST rank under ANSI ntile(3) sizing: n div 3 per
    * tile, the first n mod 3 tiles one larger). CCNet itself assigns by
    * comparing against per-language cutoff VALUES, which is exactly this
    * semantic — a perplexity value never splits across buckets.
    *
    * Physical shape (100 TB): NO per-language corpus sort. The corpus
    * aggregates to a (lang, key) count table — distinct keys, the
    * [[lengthQuantiles]] bounded-state trick — the cumulative window runs
    * over that SMALL table, and the corpus pays one (lang, key) equi-join
    * to pick up its bucket. A windowed ntile over the raw docs would put
    * each whole language in one partition — the shape this op exists to
    * avoid. Zero/one-token docs have no bigrams and are absent (the
    * [[lmPerplexity]] contract).
    */
  def ccnetBuckets(docs: DataFrame): DataFrame =
    ccnetBucketsFrom(lmScoreMicro(docs), docs)

  /** Bucketing tail of [[ccnetBuckets]] over a precomputed
    * [[lmScoreMicro]] frame (see [[lmPerplexityFrom]]). */
  def ccnetBucketsFrom(lmScored: DataFrame, docs: DataFrame): DataFrame = {
    val scored = lmScored
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"),
        expr("((-sum_mn) * 1000000) div n_grams").as("ppl_pico"))
    val wk = Window.partitionBy("lang").orderBy("ppl_pico")
    val wl = Window.partitionBy("lang")
    val keys = scored.groupBy("lang", "ppl_pico").agg(count(lit(1)).as("c"))
      .withColumn("cum",
        sum("c").over(wk.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("r", col("cum") - col("c") + 1) // first rank of the key run
      .withColumn("n", sum("c").over(wl))
    // ANSI ntile(3) position formula: q = n div 3, rem = n mod 3; the
    // first rem tiles hold q+1 rows. q = 0 (n < 3) degenerates to t = r.
    val tiled = keys
      .withColumn("q", expr("n div 3")).withColumn("rem", expr("n % 3"))
      .withColumn("tile",
        when(col("q") === 0, col("r"))
          .when(col("r") <= col("rem") * (col("q") + 1),
            expr("(r - 1) div (q + 1) + 1"))
          .otherwise(expr("rem + (r - rem * (q + 1) - 1) div q + 1")))
      .select(col("lang"), col("ppl_pico"),
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          col("tile").cast("int")).as("bucket"))
    scored.join(tiled, Seq("lang", "ppl_pico"))
      .select(col("doc_id"), col("lang"), col("ppl_pico"), col("bucket"))
  }

  /** Per-language token-length distribution: count/sum/min/max plus
    * EXACT interpolated p50/p90 (`percentile`, R-7 / quantile_cont
    * semantics — deterministic, engine-independent, unlike the t-digest
    * approx whose merge order varies). At 100 TB swap the two exact
    * percentiles for `approx_percentile` — same query shape, the sort
    * inside each language group is what the exactness buys at small
    * scale and what the sketch replaces at large.
    */
  def lengthStats(docs: DataFrame): DataFrame =
    docs.select(col("lang"), size(tokens(col("text"))).cast("long").as("n"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
        min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"),
        round(expr("percentile(n, 0.5)"), 6).as("p50_tokens"),
        round(expr("percentile(n, 0.9)"), 6).as("p90_tokens"))

  /** Histogram quantile sketch over document CHAR length — the scale path
    * [[lengthStats]]'s docstring promises: exact `percentile` holds every
    * value of the group in memory and sorts it; this holds one counter
    * per fixed-width bucket, so the state is O(maxLen/width) regardless
    * of corpus size and the whole plan is one narrow partial-agg
    * (corpus-scale, map-side combine on a handful of distinct buckets)
    * plus a few-row window. Deterministic and purely integer — unlike
    * t-digest/KLL it is exactly reproducible across partitionings AND
    * mirrorable in the oracle.
    *
    * For each percentile p: the smallest bucket whose cumulative count
    * covers p% of docs (cum·100 >= p·total), reported as the bucket's
    * exclusive char upper bound. Error is bounded by `width` chars, the
    * knob the caller trades for state.
    */
  def lengthQuantiles(docs: DataFrame, width: Int = 64,
                      ps: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(width > 0 && ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100))
    val b = docs.select(floor(length(col("text")) / width).cast("long").as("bucket"))
    val c = b.groupBy("bucket").agg(count(lit(1)).as("cnt")) // O(buckets) rows from here on
    val cum = c.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = b.agg(count(lit(1)).as("total")) // 1 row
    val pf = docs.sparkSession.createDataFrame(ps.map(Tuple1(_))).toDF("p")
    cum.crossJoin(broadcast(total)).crossJoin(broadcast(pf))
      .where(col("cum") * 100 >= col("p") * col("total"))
      .groupBy("p") // first qualifying bucket; cum is monotone so min(cum) rides along
      .agg(((min(col("bucket")) + 1) * width).as("cutoff_chars"),
        min(col("cum")).as("cum_docs"))
      .orderBy("p")
  }

  /** Per-document top-k TF-IDF terms — the classic keyword/feature
    * extraction pass over a training corpus (content tagging, topic
    * labeling, index-time term weighting).
    *
    * idf follows the smoothed sklearn form ln((1+N)/(1+df)) but is fixed
    * to integer micro-nats (the [[lmPerplexity]] exactness contract):
    * `idf_micro = floor(ln((1+N)/(1+df))·10^6 + 0.5)` as BIGINT, so the
    * score `tf * idf_micro` is an exact integer — bit-reproducible across
    * PARTITIONINGS unconditionally (the sums and joins downstream of the
    * floor are pure integer). Cross-ENGINE exactness has one caveat: the
    * floor itself reads a double ln, so a last-ulp difference between
    * JVM Math.log and another libm can flip the integer when
    * ln(...)·10^6 lands within an ulp of a half-integer boundary —
    * astronomically rare per value but probabilistic, not proven, unlike
    * the purely integer contracts elsewhere (same caveat as the round-6
    * float columns). Ties break on term text ascending.
    *
    * Shape: one tokenize pass -> per-(doc,term) count (two-phase hash
    * agg) -> df is a reaggregation of THAT table (no second corpus
    * scan) -> term-keyed equi-join tf⋈df (shuffle join at scale: the
    * vocabulary of a 100 TB corpus is not broadcastable; AQE downgrades
    * to broadcast when it is) -> per-doc top-k window. The window
    * partitions by doc_id, so it shuffles once on doc_id and sorts only
    * each doc's own term list.
    */
  def tfidfTop(docs: DataFrame, topK: Int = 3): DataFrame = {
    require(topK >= 1, s"tfidfTop: topK must be >= 1, got $topK")
    val tf = docs
      .select(col("doc_id"), explode(tokens(F.lower_simple(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs")) // 1 row -> broadcast
    val idfMicro = floor(log((lit(1L) + col("n_docs")).cast("double") /
      (lit(1L) + col("df")).cast("double")) * 1e6 + 0.5).cast("long")
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") * idfMicro).as("score_micro"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score_micro").desc, col("term").asc)))
      .where(col("rk") <= topK)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("term"),
        col("tf"), col("df"), col("score_micro"))
  }

  /** Corpus-level PMI collocations: bigrams whose pointwise mutual
    * information says the pair co-occurs far above unigram chance — the
    * standard collocation/multi-word-expression miner (and the building
    * block for PMI-based phrase joining in LLM data prep).
    *
    * pmi = ln(p(w1,w2) / (p(w1)p(w2))) = ln(c12·T·T / (B·c1·c2)) with T
    * total unigrams, B total bigrams — fixed to integer micro-nats
    * (floor(·10^6 + 0.5), the [[lmPerplexity]] contract) so output is
    * exact across partitionings; cross-engine it carries the same
    * ln-boundary caveat as [[tfidfTop]] (a last-ulp libm difference can
    * flip the floored integer at knife-edge values — probabilistic, not
    * proven). `minCount` drops rare pairs BEFORE the unigram joins (the
    * classic PMI low-count pathology and 99% of the join volume at
    * corpus scale).
    *
    * Shape: one tokenize pass feeds both count aggs; scoring is two
    * term-keyed equi-joins of the surviving bigram table against the
    * unigram counts plus a broadcast single-row totals frame.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5): DataFrame = {
    val toked = docs
      .select(col("doc_id"), tokens(F.lower_simple(col("text"))).as("toks"))
    val uni = toked.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // toks staged as a column before the gram lambda (CSE note in
    // ngramCounts: an unbound reference inside transform() re-runs the
    // regex per gram)
    val big = toked.select(
      explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("g"))
      .select(col("g.w1"), col("g.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val totals = uni.agg(sum("c").as("t"))
      .crossJoin(big.agg(sum("c12").as("b"))) // two 1-row frames
    val pmiMicro = floor(log(
      (col("c12").cast("double") * col("t") * col("t")) /
        (col("b").cast("double") * col("c1") * col("c2"))) * 1e6 + 0.5)
      .cast("long")
    big.where(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        pmiMicro.as("pmi_micro"))
  }

  /** HyperLogLog constant for m = 64 registers and the 2^40-scaled
    * harmonic sum: alpha_64 * m^2 * 2^40. Public so the oracle inlines
    * the IDENTICAL double (shortest round-trip repr). */
  val HllC: Double = 0.7213 / (1 + 1.079 / 64) * 4096 * math.pow(2, 40)

  /** Per-language HyperLogLog distinct-token estimate (Flajolet et al.
    * 2007; m = 64 registers) — the approximate-distinct sketch done so
    * it is still EXACTLY checkable: the register update is a max (order-
    * and retry-independent, so any partitioning/merge tree yields the
    * SAME registers), rho comes from integer bit-length of the poly_hash
    * value, and the harmonic sum is computed as the exact integer
    * Σ 2^(59−r) — the only floats are one division and the linear-
    * counting ln at the final projection, absorbed by round-6.
    *
    * Columns: v_zero (empty registers) and s_scaled (the integer sum)
    * are exact; hll_est carries the estimate (small-range linear
    * counting below 2.5m); n_exact is the true distinct count kept for
    * error inspection at test scale — drop it at 100 TB (it is the
    * expensive exact aggregation the sketch replaces; the sketch path
    * itself shuffles at most lang × 64 register rows).
    */
  def hllTokenDistinct(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("lang"),
      explode(tokens(F.lower_simple(col("text")))).as("w"))
    val regs = tok
      // splitmix64 finalizer: PolyHash is structure-preserving (similar
      // strings share high bits), HLL register selection needs avalanche
      .select(col("lang"), F.mix64(F.poly_hash(col("w"))).as("h"))
      // bucket = low 6 bits (two's-complement & matches unsigned mod 64),
      // w58 = the remaining 58 bits via unsigned shift
      .select(col("lang"), expr("h & 63L").as("b"),
        expr("shiftrightunsigned(h, 6)").as("w58"))
      .select(col("lang"), col("b"),
        when(col("w58") === 0L, lit(59))
          .otherwise(lit(59) - length(bin(col("w58")))).as("rho"))
      .groupBy("lang", "b").agg(max("rho").as("r"))
    val per = regs.groupBy("lang")
      .agg((lit(64L) - count(lit(1))).as("v_zero"),
        // rho capped at 40 INSIDE the sum (a 2^-40 harmonic term is
        // negligible and the cap keeps Σ 2^(40-r) + 64·2^40 < 2^47 —
        // the uncapped 2^59 scale overflows Long at 64 empty registers)
        sum(expr("shiftleft(CAST(1 AS BIGINT), 40 - least(r, 40))")).as("s_present"))
      .select(col("lang"), col("v_zero"),
        (col("s_present") + col("v_zero") * expr("shiftleft(CAST(1 AS BIGINT), 40)"))
          .as("s_scaled"))
    val raw = lit(HllC) / col("s_scaled").cast("double")
    val est = when(raw <= 160.0 && col("v_zero") > 0,
      lit(64.0) * log(lit(64.0) / col("v_zero"))).otherwise(raw)
    val exact = tok.groupBy("lang").agg(countDistinct(col("w")).as("n_exact"))
    per.join(exact, "lang")
      .select(col("lang"), col("n_exact"), col("v_zero"), col("s_scaled"),
        round(est, 6).as("hll_est"))
  }

  /** Count-Min sketch width (power of two, so the engine's signed
    * `& (w-1)` equals the oracle's unsigned `% w` — the HLL register
    * trick) and depth. 4 x 1024 longs = 32 KB per sketch: constant-size
    * regardless of key cardinality, mergeable by addition. */
  val CmsWidth = 1024
  val CmsDepth = 4

  /** The depth cells a token `w` updates: row i hashes
    * mix64(poly_hash(w || chr(1) || i)) — per-row independence comes
    * from the suffix-keyed hash (the q_kg_walks composite-key twin
    * pattern; no Long arithmetic, so ANSI mode cannot overflow), and the
    * power-of-two width makes signed `&` equal unsigned `%`. */
  private def cmsCells: Seq[Column] = (0 until CmsDepth).map { i =>
    struct(lit(i).as("i"),
      F.mix64(F.poly_hash(concat(col("w"), lit("\u0001" + i))))
        .bitwiseAND(lit((CmsWidth - 1).toLong)).as("j"))
  }

  /** Count-Min register table over the corpus tokens (Cormode &
    * Muthukrishnan 2005): `depth` independent hash rows of `width`
    * counters; cell (i, j) counts token occurrences with
    * mix64(mix64(poly_hash(w)) + i) & (width-1) == j.
    *
    * The shuffle is two-phase-aggregated to at most depth x width cells
    * per partition — the sketch's whole point at 100 TB: heavy-hitter
    * detection WITHOUT a distinct-key shuffle (the exact groupBy this
    * replaces shuffles one row per distinct token; the sketch shuffles a
    * constant 4096 rows and the result broadcasts anywhere). Register
    * updates are additions, so any partitioning/merge order yields the
    * SAME table — exactly hash-checkable, like the HLL sketch above.
    */
  def cmsRegisters(docs: DataFrame): DataFrame = {
    val tok = docs.select(explode(tokens(F.lower_simple(col("text")))).as("w"))
    tok.select(explode(array(cmsCells: _*)).as("c"))
      .groupBy(col("c.i").as("i"), col("c.j").as("j"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Heavy hitters via the Count-Min sketch: estimate(w) = min over the
    * depth rows of the register each hash of w lands in — an
    * OVERESTIMATE of the true count, never an under (the property
    * SketchSpec pins). Returns the top-k candidates by estimate with the
    * exact count alongside for error inspection at test scale.
    *
    * Scale shape: the register table is 32 KB — broadcast — so the
    * estimate is a per-row projection against a broadcast map; the only
    * wide operation left is the candidate-set distinct. At 100 TB the
    * deployment drops `n_exact` (it IS the expensive exact aggregation
    * the sketch replaces) and keeps est >= threshold as the salting
    * hint: hot entities found without ever shuffling token keys.
    */
  def cmsTopK(docs: DataFrame, k: Int = 30): DataFrame = {
    val regs = cmsRegisters(docs)
    val tok = docs.select(explode(tokens(F.lower_simple(col("text")))).as("w"))
    val exact = tok.groupBy("w").agg(count(lit(1)).as("n_exact"))
    val est = exact.select(col("w"), col("n_exact"),
        explode(array(cmsCells: _*)).as("c"))
      .select(col("w"), col("n_exact"), col("c.i").as("i"), col("c.j").as("j"))
      .join(broadcast(regs), Seq("i", "j"))
      .groupBy("w", "n_exact").agg(min("cnt").as("est"))
    est.orderBy(col("est").desc, col("w").asc).limit(k)
  }

  /** Hashed-feature buckets for [[dsirLogWeights]]: power of two so the
    * signed `&` mask equals the oracle's unsigned HUGEINT `%` (the
    * [[CmsWidth]] trick). */
  val DsirBuckets = 1024

  /** Per-doc hashed n-gram feature stream (unigrams + adjacent bigrams,
    * the DSIR paper's feature model): one bucket id per feature,
    * mix64(poly_hash(feat)) & (m-1). The token array is materialized
    * BEFORE the bigram lambda (the [[ngramCounts]] CSE note: Catalyst
    * does not CSE into HOF lambdas, an unbound reference re-runs the
    * tokenizer regex per gram). */
  private def dsirFeats(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"),
      tokens(F.lower_simple(col("text"))).as("toks"))
    t.select(col("doc_id"), explode(concat(
        col("toks"),
        when(size(col("toks")) >= 2,
          transform(sequence(lit(0), size(col("toks")) - 2),
            i => concat_ws(" ", element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2))))
          .otherwise(array().cast("array<string>")))).as("feat"))
      .select(col("doc_id"),
        F.mix64(F.poly_hash(col("feat")))
          .bitwiseAND(lit((DsirBuckets - 1).toLong)).as("b"))
  }

  /** DSIR importance weights — Data Selection via Importance Resampling
    * (Xie et al. 2023, arXiv:2302.03169), the published recipe for
    * picking pretraining data that "looks like" a target domain at
    * CommonCrawl scale. Two hashed-ngram bag-of-buckets models are fit
    * (add-one smoothed multinomials over [[DsirBuckets]] buckets, one on
    * the target corpus, one on the raw corpus) and every raw doc is
    * scored with its importance log-weight
    * log w(x) = Σ_feats [ln p_target(b) − ln p_raw(b)].
    *
    * EXACTNESS CONTRACT: the two per-bucket log-probs are fixed to
    * integer micro-nats (the [[lmPerplexity]] contract) on the m-row
    * bucket table BEFORE the per-doc sum, so the doc score is an integer
    * sum — exact under any partition order and mirrorable in the oracle
    * (same ln-boundary caveat as [[tfidfTop]]).
    *
    * Physical shape at 10^12 docs: one tokenize pass per corpus feeds a
    * two-phase count agg that collapses to ≤m rows; the λ table is an
    * m-row BROADCAST (the model is 1024 longs — this is why DSIR scales
    * where a full LM ratio would not); scoring is a map-side broadcast
    * join + per-doc partial agg. No corpus-scale shuffle of anything but
    * the doc-keyed combine. Docs with zero tokens have no features and
    * are absent (the [[lmPerplexity]] contract).
    */
  def dsirLogWeights(raw: DataFrame, target: DataFrame): DataFrame = {
    val m = DsirBuckets
    // feats(raw) feeds BOTH the raw-model counts and the final per-doc
    // scoring join; materialize the narrow (doc_id, b) stream once
    // instead of running the tokenize+bigram+hash derivation twice
    // (guide §2.4 — the same duplicate-subtree cut as transeSamples).
    // persist, not localCheckpoint: lazy + compressed columnar, no
    // eager row write of the corpus-scale feature stream
    val fr = dsirFeats(raw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cr = fr.groupBy("b").agg(count(lit(1)).as("cr"))
    val ct = dsirFeats(target).groupBy("b").agg(count(lit(1)).as("ct"))
    // 1-row totals; broadcast cross joins keep each a single job
    val tot = cr.agg(sum("cr").as("rtot"))
      .crossJoin(ct.agg(sum("ct").as("ttot")))
    // full 0..m-1 bucket table: a raw feature hashing into a bucket the
    // TARGET never hit still needs the smoothing-floor ratio (and
    // vice versa), so λ is total on the bucket domain
    val buckets = raw.sparkSession.range(m).toDF("b")
    def lamOf(cnt: Column, total: Column) =
      floor(log((coalesce(cnt, lit(0L)) + lit(1L)).cast("double") /
        (total + lit(m.toLong)).cast("double")) * 1e6 + 0.5).cast("long")
    val lam = buckets
      .join(ct, Seq("b"), "left").join(cr, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        (lamOf(col("ct"), col("ttot")) - lamOf(col("cr"), col("rtot")))
          .as("lam"))
    fr
      .join(broadcast(lam), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("lam").as("logw_micro"))
  }

  /** DSIR selection: draw `k` docs with probability ∝ exp(log-weight)
    * via the Gumbel-top-k trick — top-k of logw + Gumbel noise IS a
    * weighted sample without replacement (Vieira 2014). The noise is
    * DETERMINISTIC: u ∈ (0,1) derives from the md5 ppm gate hash
    * ([[Corpus.stratifiedSample]]'s reproducibility rationale — a task
    * retry with rand() would silently change the sample), and the Gumbel
    * −ln(−ln u) is micro-nat fixed so the sort key is an integer.
    * Selection = one TakeOrdered(k), no global sort.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, k: Int = 20): DataFrame = {
    val ppm = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000000L
    val gum = floor(-log(-log((ppm.cast("double") + 0.5) / 1e6)) * 1e6 + 0.5)
      .cast("long")
    dsirLogWeights(raw, target)
      .withColumn("gumbel_micro", gum)
      .withColumn("sel_key", col("logw_micro") + col("gumbel_micro"))
      .orderBy(col("sel_key").desc, col("doc_id").asc)
      .limit(k)
  }

  /** BPE tokenizer training (Sennrich et al. 2016): learn the first
    * `rounds` byte-pair merges from the corpus. Returns the merge table
    * (round, left, right, cnt) — the artifact a tokenizer ships.
    *
    * Classic BPE over the word-frequency table: words are split to
    * characters; each round counts ADJACENT symbol pairs weighted by
    * word frequency (overlapping positions count, e.g. "aaa" holds
    * (a,a) twice), picks the global argmax with a total tie-break
    * (cnt desc, left asc, right asc), and rewrites every word by the
    * left-to-right NON-overlapping greedy merge — a freshly merged
    * token never re-serves as a left side in the same scan. Both rules
    * are mirrored in the oracle, so the learned merges are
    * engine-independent.
    *
    * Scale shape: the word table (the classic BPE input; ~10^8 rows for
    * a 100 TB corpus) is built once with a two-phase count; each round
    * is one distributed pair-count aggregate + a driver-side argmax of
    * ONE row (merge selection is inherently sequential — this is the
    * honest minimum of driver coordination) + a narrow per-word rewrite,
    * localCheckpointed so plans stay O(1)-deep.
    */
  def bpeMerges(docs: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds >= 1, s"bpeMerges: rounds must be >= 1, got $rounds")
    val spark = docs.sparkSession
    // split to single characters; limit 0 drops java.split's trailing ""
    var words = docs
      .select(explode(tokens(F.lower_simple(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(col("n"), split(col("w"), "", 0).as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (round <- 1 to rounds) {
      val best = words
        .where(size(col("syms")) >= 2)
        .select(col("n"), explode(transform(sequence(lit(0), size(col("syms")) - 2),
          i => struct(element_at(col("syms"), i + 1).as("l"),
            element_at(col("syms"), i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) // every word is a single symbol — nothing to merge
        return spark.createDataFrame(merges.toSeq)
          .toDF("round", "left", "right", "cnt")
      val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += ((round, l, r, cnt))
      words = words.select(col("n"),
        aggregate(col("syms"), array().cast("array<string>"),
          // get() (0-based, null when empty) — element_at(-1) throws on
          // the empty init under Spark 4's default ANSI mode
          (acc, x) => when(get(acc, size(acc) - 1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(x)))).as("syms"))
        .localCheckpoint()
    }
    spark.createDataFrame(merges.toSeq).toDF("round", "left", "right", "cnt")
  }

  /** BPE ENCODE — the apply side of [[bpeMerges]]: tokenize the corpus
    * with a learned merge table. Emits one row per subword piece:
    * (doc_id, pos, seq, piece, piece_id) where `pos` is the word's index
    * in the document, `seq` the piece's index within the word, and
    * `piece_id` a deterministic dense id (pieces sorted ascending) — the
    * token-id stream a training pipeline packs.
    *
    * Semantics match the trainer exactly: merges apply in round order,
    * each as one left-to-right NON-overlapping greedy rewrite (a freshly
    * merged token never re-serves as a left side in the same scan) — so
    * `bpeEncode(docs, bpeMerges(docs, r))` reproduces the trainer's final
    * word table, and the DuckDB oracle mirrors both with the same fold.
    *
    * Scale shape (100 TB): merges are collected driver-side (the table is
    * `rounds` rows by construction — bounded, like the trainer's one-row
    * argmax) and baked into the plan as literals; the fold runs over the
    * DISTINCT-WORD vocab (~10^8 rows at 100 TB, each word encoded once,
    * one projection per merge — never over the corpus), and the corpus
    * pays one word-keyed equi-join (vocab NOT assumed broadcastable; AQE
    * picks broadcast when it is). The piece-id table is provably tiny —
    * every piece is either a single character or one merge's output, so
    * |pieces| <= |alphabet| + rounds — hence the single-partition
    * row_number window and the broadcast id join are O(alphabet) no
    * matter the corpus size. Reference apply-side analogue: the wordpiece
    * encode path (slovnet/bert.py:12-43) applies a shipped subword vocab
    * the same way this applies the shipped merge table.
    */
  def bpeEncode(docs: DataFrame, merges: DataFrame,
                vocabOpt: Option[DataFrame] = None): DataFrame = {
    val vocab = vocabOpt.getOrElse(bpeVocab(docs, merges))
    val pieceIds = vocab.select(explode(col("syms")).as("piece")).distinct()
      .withColumn("piece_id",
        row_number().over(Window.orderBy("piece")).cast("long"))
    val corpus = docs.select(col("doc_id"),
      posexplode(tokens(F.lower_simple(col("text"))))).toDF("doc_id", "pos", "w")
    corpus.join(vocab, "w")
      .select(col("doc_id"), col("pos"), posexplode(col("syms")))
      .toDF("doc_id", "pos", "seq", "piece")
      .join(broadcast(pieceIds), "piece")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("seq").cast("long").as("seq"), col("piece"), col("piece_id"))
  }

  /** Fixed-point log2 in 1/256 units ("centibits"): fx(x) =
    * floor(log2 x)·256 + ((x·256) >> floor(log2 x)) − 256 — a linear
    * interpolation between powers of two, fully integer, so unigram
    * scores are bit-exact across engines with no libm anywhere (unlike
    * the documented ln-boundary caveat on tfidf/pmi). Valid for
    * 1 <= x < 2^55 (the <<8 must not overflow) — piece counts at 100 TB
    * are ~2^40.
    */
  def fx(x: Long): Long = {
    require(x >= 1 && x < (1L << 55), s"fx: x out of range: $x")
    val f = 63 - java.lang.Long.numberOfLeadingZeros(x)
    f * 256L + ((x << 8) >> f) - 256L
  }

  /** Unigram-LM piece scores from the BPE-derived piece inventory
    * (SentencePiece-style vocabulary, Kudo 2018, with the EM step
    * replaced by observed BPE-segmentation frequencies): score(piece) =
    * fx(cnt) − fx(total) ≈ 256·log2 P(piece) — negative centibits, so
    * Viterbi's sum-of-scores maximization is the integer analogue of
    * max-likelihood segmentation and inherently penalizes piece count.
    *
    * Scale shape: counts come from the DISTINCT-WORD frequency table
    * joined to the piece vocab (word-scale, never a corpus explode);
    * the result is driver-collected — bounded by |alphabet| + rounds,
    * the [[bpeEncode]] argument — scored with integer fx, and returned
    * sorted by piece for determinism.
    */
  def unigramScores(docs: DataFrame, merges: DataFrame,
                    vocabOpt: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    val wf = docs.select(explode(tokens(F.lower_simple(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val counts = wf.join(vocabOpt.getOrElse(bpeVocab(docs, merges)), "w")
      .select(col("n"), explode(col("syms")).as("piece"))
      .groupBy("piece").agg(sum("n").as("cnt"))
    val rows = counts.collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val total = rows.map(_._2).sum
    import spark.implicits._
    rows.toSeq.map { case (p, c) => (p, c, fx(c) - fx(total)) }
      .toDF("piece", "cnt", "score")
  }

  /** Viterbi unigram segmentation with an explicit score table — the
    * apply side of [[unigramScores]], split out so a vocabulary trained
    * on one corpus can encode another (where unseen characters fall back
    * to single-char UNK pieces at `min(score) − 2560`, i.e. ~2^-10 below
    * the rarest real piece).
    *
    * Per-position contract (oracle-mirrored exactly): best(i) is chosen
    * among vocab pieces ending at i by (score DESC, n_pieces ASC,
    * split-point j ASC); the UNK single-char candidate is considered
    * ONLY when no vocab piece ends at i. Output: one row per corpus
    * piece occurrence (doc_id, pos, seq, piece) plus the word-level
    * (score, n_pieces).
    *
    * Scale shape: the DP runs once per DISTINCT word (a typed Dataset
    * map with the broadcast score table pinned per executor — the
    * pinned-model inference shape, NOT a per-corpus-row UDF); the
    * corpus pays one word-keyed equi-join exactly like [[bpeEncode]].
    */
  def unigramEncodeWith(docs: DataFrame, scores: DataFrame,
                        uniVocabOpt: Option[DataFrame] = None): DataFrame = {
    val segmented = uniVocabOpt.getOrElse(unigramVocab(docs, scores))
    val corpus = docs.select(col("doc_id"),
      posexplode(tokens(F.lower_simple(col("text"))))).toDF("doc_id", "pos", "w")
    corpus.join(segmented, "w")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        posexplode(col("pieces")), col("score"), col("n_pieces"))
      .toDF("doc_id", "pos", "seq", "piece", "score", "n_pieces")
      .select(col("doc_id"), col("pos"), col("seq").cast("long").as("seq"),
        col("piece"), col("score"), col("n_pieces"))
  }

  /** Distinct-word → (pieces, score, n_pieces) under the unigram DP —
    * the [[bpeVocab]] analogue, exposed so count-only consumers
    * (fertility, packing) read `n_pieces` off the vocab and never
    * explode pieces at corpus scale. */
  def unigramVocab(docs: DataFrame, scores: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val sc = scores.select("piece", "score").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(sc.nonEmpty, "unigramVocab: empty score table")
    val vm = sc.toMap
    val mp = sc.map(_._1.length).max
    val unk = sc.map(_._2).min - 2560L
    val bc = spark.sparkContext.broadcast((vm, mp, unk))
    import spark.implicits._
    docs
      .select(explode(tokens(F.lower_simple(col("text")))).as("w"))
      .distinct().as[String]
      .map { w =>
        val (vmap, maxP, unkS) = bc.value
        val L = w.length
        val score = new Array[Long](L + 1)
        val np = new Array[Int](L + 1)
        val bj = new Array[Int](L + 1)
        var i = 1
        while (i <= L) {
          var bS = Long.MinValue; var bN = Int.MaxValue; var bJ = -1
          var j = math.max(0, i - maxP)
          while (j < i) {
            vmap.get(w.substring(j, i)) match {
              case Some(s) =>
                val cs = score(j) + s; val cn = np(j) + 1
                if (cs > bS || (cs == bS && cn < bN)) { bS = cs; bN = cn; bJ = j }
              case None =>
            }
            j += 1
          }
          if (bJ < 0) { bS = score(i - 1) + unkS; bN = np(i - 1) + 1; bJ = i - 1 }
          score(i) = bS; np(i) = bN; bj(i) = bJ
          i += 1
        }
        val parts = new scala.collection.mutable.ArrayBuffer[String](np(L))
        var pos = L
        while (pos > 0) { parts.prepend(w.substring(bj(pos), pos)); pos = bj(pos) }
        (w, parts.toSeq, score(L), np(L).toLong)
      }
      .toDF("w", "pieces", "score", "n_pieces")
  }

  /** Train-and-apply convenience: unigram scores from this corpus's BPE
    * piece inventory, then Viterbi-encode the same corpus. */
  def unigramEncode(docs: DataFrame, merges: DataFrame): DataFrame =
    unigramEncodeWith(docs, unigramScores(docs, merges))

  /** Tokenizer shoot-out: per-language fertility (pieces/word, integer
    * ppm) of the BPE greedy-merge encoder vs the unigram-LM Viterbi
    * encoder over the SAME piece inventory — the table that decides
    * which tokenizer a pipeline commits to. Per word the unigram DP's
    * SCORE is >= the BPE segmentation's score (BPE's pieces are one
    * candidate segmentation under the same prices), but fertility
    * itself is not monotone — a higher-scoring segmentation may use
    * more pieces — so the delta column is a measurement, not a theorem.
    * Both sides read counts off their distinct-word vocab tables —
    * pieces are never exploded at corpus scale.
    */
  def tokenizerCompare(docs: DataFrame, merges: DataFrame,
                       vocabOpt: Option[DataFrame] = None,
                       uniVocabOpt: Option[DataFrame] = None): DataFrame = {
    val bpe = bpeFertility(docs, merges, vocabOpt)
      .select(col("lang"), col("pieces_per_word_ppm").as("bpe_ppw_ppm"))
    val uni = docs
      .select(col("lang"), explode(tokens(F.lower_simple(col("text")))).as("w"))
      .join(uniVocabOpt
        .getOrElse(unigramVocab(docs, unigramScores(docs, merges, vocabOpt)))
        .select(col("w"), col("n_pieces")), "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_pieces"))
      .select(col("lang"),
        expr("(n_pieces * 1000000) div n_words").as("uni_ppw_ppm"))
    bpe.join(uni, "lang")
      .withColumn("delta_ppm", col("uni_ppw_ppm") - col("bpe_ppw_ppm"))
  }

  /** Distinct-word → piece-array table: the merge fold of [[bpeEncode]],
    * exposed so count-only consumers ([[Corpus.packBpe]]) project
    * `size(syms)` off the vocab and never explode pieces at corpus scale.
    * Persisted: every caller has at least two consumers of the fold.
    */
  def bpeVocab(docs: DataFrame, merges: DataFrame): DataFrame = {
    val ms = merges.orderBy("round").select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1)))
    require(ms.nonEmpty, "bpeVocab: empty merge table — train with bpeMerges first")
    // encode each DISTINCT word once; corpus rows join back by word
    var vocab = docs
      .select(explode(tokens(F.lower_simple(col("text")))).as("w"))
      .distinct()
      .select(col("w"), split(col("w"), "", 0).as("syms"))
    for ((l, r) <- ms) {
      vocab = vocab.select(col("w"),
        aggregate(col("syms"), array().cast("array<string>"),
          (acc, x) => when(get(acc, size(acc) - 1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(x)))).as("syms"))
    }
    vocab.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Tokenizer fertility per language — pieces/word and chars/piece under
    * a trained BPE merge table: the standard tokenizer-eval metric an LLM
    * pipeline computes before committing to a vocab (a high-fertility
    * language pays more sequence budget per word; cf. the multilingual
    * fertility tables in the mBERT/XLM-R literature).
    *
    * Integer-exact: ratios are emitted as ppm via BIGINT floor division
    * (`(n_pieces·10^6) div n_words`), so the row is engine-exact with no
    * float anywhere.
    *
    * Physical shape: the corpus pays the same ONE word-keyed join against
    * the distinct-word piece table as [[bpeEncode]] (pieces are never
    * exploded — only size(syms) and the word length travel), then a
    * per-language two-phase agg. Languages, not docs, are the output rows.
    */
  def bpeFertility(docs: DataFrame, merges: DataFrame,
                   vocabOpt: Option[DataFrame] = None): DataFrame = {
    val vocab = vocabOpt.getOrElse(bpeVocab(docs, merges)).select(col("w"),
      size(col("syms")).cast("long").as("k"),
      length(col("w")).cast("long").as("chars"))
    docs.select(col("lang"), explode(tokens(F.lower_simple(col("text")))).as("w"))
      .join(vocab, "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum("k").as("n_pieces"),
        sum("chars").as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_chars"),
        expr("(n_pieces * 1000000) div n_words").as("pieces_per_word_ppm"),
        expr("(n_chars * 1000000) div n_pieces").as("chars_per_piece_ppm"))
  }

  /** GPT-3/CCNet-style binary quality classifier: Naive Bayes token
    * log-odds trained on a positive (in-domain, e.g. curated/WebText-like)
    * corpus vs a negative (raw crawl) corpus, then every document in
    * `score` gets the summed log-likelihood ratio — the classic
    * "does this look like the good data" filter every large-scale
    * pretraining pipeline runs (GPT-3 used an LR over hashed features,
    * CCNet an LM; NB token log-odds is the public-domain baseline both
    * papers compare against).
    *
    * Model: llr(w) = ln((c_pos(w)+1)/(N_pos+V)) − ln((c_neg(w)+1)/(N_neg+V))
    * (add-one smoothing, shared vocab V over pos∪neg), doc score =
    * prior + Σ llr(token occurrences), prior = ln(|pos|/|neg|) over doc
    * counts. `label` = "pos" iff score_micro > 0 (ties negative).
    *
    * EXACTNESS CONTRACT (the [[lmPerplexity]] rule): each of the two
    * per-token log terms and the prior are fixed to integer micro-nats —
    * floor(ln(·)·10^6 + 0.5) as BIGINT — BEFORE any summing, so the doc
    * score is an exact integer, reproducible under any partition order
    * and mirrorable by the oracle; the usual ~1e-13 ln-boundary caveat
    * applies to each floor individually.
    *
    * Physical shape (100 TB): one tokenize pass per training side feeds
    * a token-keyed count agg (two-phase, map-side combine absorbs the
    * Zipf head); the two count tables full-outer-merge on token; the
    * scored corpus's token stream left-joins that llr table — a
    * token-keyed shuffle join at scale (a 100 TB-corpus vocab is NOT
    * assumed broadcastable; AQE downgrades to broadcast when it is) —
    * then one doc_id-keyed sum. Totals (N_pos, N_neg, V, doc priors) are
    * single-row broadcast crosses. Docs with zero tokens are absent from
    * the output (the [[lmPerplexity]] contract). Both training sides
    * must be non-empty (an empty side nulls the prior).
    */
  def nbQualityScores(pos: DataFrame, neg: DataFrame, score: DataFrame): DataFrame = {
    def toked(d: DataFrame) =
      d.select(col("doc_id"), tokens(F.lower_simple(col("text"))).as("toks"))
    def uni(d: DataFrame) = toked(d).select(explode(col("toks")).as("w"))
    def mn(x: Column) = floor(log(x) * 1e6 + 0.5).cast("long")
    val cp = uni(pos).groupBy("w").agg(count(lit(1)).as("cp"))
    val cn = uni(neg).groupBy("w").agg(count(lit(1)).as("cn"))
    val counts = cp.join(cn, Seq("w"), "full").select(col("w"),
      coalesce(col("cp"), lit(0L)).as("cp"), coalesce(col("cn"), lit(0L)).as("cn"))
    val tot = counts.agg(sum("cp").as("np"), sum("cn").as("nn"),
      count(lit(1)).as("v")) // 1 row -> broadcast cross
    val prior = pos.agg(count(lit(1)).as("dp"))
      .crossJoin(neg.agg(count(lit(1)).as("dn"))) // 1 row
    // unseen scored tokens fall back to the smoothing floor via
    // coalesce(·,0) — same back-off as lmPerplexity's left joins
    val llr = mn((coalesce(col("cp"), lit(0L)) + 1).cast("double") /
        (col("np") + col("v")).cast("double")) -
      mn((coalesce(col("cn"), lit(0L)) + 1).cast("double") /
        (col("nn") + col("v")).cast("double"))
    toked(score).select(col("doc_id"), explode(col("toks")).as("w"))
      .join(counts, Seq("w"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), llr.as("llr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("llr").as("sum_llr"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("n_toks"),
        (col("sum_llr") +
          mn(col("dp").cast("double") / col("dn").cast("double"))).as("score_micro"))
      .withColumn("label",
        when(col("score_micro") > 0, lit("pos")).otherwise(lit("neg")))
  }

  /** word2vec-style skip-gram pair counts: for every token position emit
    * (center, context) for all contexts within ±`window`, then count —
    * the co-occurrence statistics embedding trainers (word2vec SGNS,
    * GloVe's X matrix) consume. Both directions are emitted per unordered
    * occurrence (symmetric window), matching word2vec's scan.
    *
    * Physical shape (100 TB): pair generation is a row-local array
    * lambda over the materialized token array — one flatten(transform(
    * sequence(1..window), d -> shifted zips)) — so the ONLY shuffle is
    * the final (center, context)-keyed count agg, two-phase with
    * map-side combine absorbing the Zipf head; there is no positional
    * self-join (the naive formulation joins the token stream to itself
    * on |i−j|<=window — a doc_id-keyed join the lambda makes
    * unnecessary). `minCount` floors the output the way word2vec's
    * min-count does, keeping the emitted matrix sparse.
    */
  def skipgramPairs(docs: DataFrame, window: Int = 2, minCount: Long = 2): DataFrame = {
    require(window >= 1, s"skipgramPairs: window must be >= 1, got $window")
    val empty = array().cast("array<struct<center:string,context:string>>")
    val t = docs.select(tokens(F.lower_simple(col("text"))).as("toks"))
    t.select(explode(flatten(transform(sequence(lit(1), lit(window)), d =>
        when(size(col("toks")) > d,
          flatten(transform(sequence(lit(0), size(col("toks")) - d - 1), i =>
            array(
              struct(element_at(col("toks"), i + 1).as("center"),
                element_at(col("toks"), i + d + 1).as("context")),
              struct(element_at(col("toks"), i + d + 1).as("center"),
                element_at(col("toks"), i + 1).as("context"))))))
          .otherwise(empty)))).as("p"))
      .select(col("p.center"), col("p.context"))
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** Per-domain KL divergence KL(domain ‖ corpus) over unigram
    * distributions — the domain-similarity signal mixture-weighting
    * pipelines (DoReMi-style reweighting, CCNet's per-shard LM deltas)
    * rank sources by: a domain whose token distribution diverges hard
    * from the pooled corpus is either precious diversity or garbage,
    * and either way gets a hand-set mixture weight.
    *
    * KL = Σ_w p_d(w)·(ln p_d(w) − ln p_c(w)); every domain token is in
    * the corpus by construction, so no smoothing is needed.
    *
    * EXACTNESS CONTRACT: the two log terms are fixed to integer
    * micro-nats per (domain, token) and weighted by the INTEGER count
    * c_d(w) — `kl_micro_sum = Σ c_d(w)·(mn(c_d/N_d) − mn(c_c/N_c))` is
    * an exact BIGINT; `kl_nats` divides by N_d·10^6 only at the final
    * projection.
    *
    * Physical shape (100 TB): ONE tokenize pass feeds the (domain,
    * token) count agg; the corpus-wide token counts REAGGREGATE that
    * table (sum over domains — no second corpus scan, the [[tfidfTop]]
    * df trick); the stitch is a token-keyed shuffle join of the two
    * count tables (vocab not assumed broadcastable) plus broadcast
    * per-domain and single-row totals. Output is one row per domain.
    */
  def domainKl(docs: DataFrame, domainCol: String = "source"): DataFrame = {
    def mn(x: Column) = floor(log(x) * 1e6 + 0.5).cast("long")
    val cs = docs
      .select(col(domainCol).as("domain"),
        explode(tokens(F.lower_simple(col("text")))).as("w"))
      .groupBy("domain", "w").agg(count(lit(1)).as("c_s"))
    val cc = cs.groupBy("w").agg(sum("c_s").as("c_c")) // reaggregate, no 2nd scan
    val ns = cs.groupBy("domain").agg(sum("c_s").as("n_s")) // one row per domain
    val nc = cc.agg(sum("c_c").as("n_c")) // 1 row
    cs.join(cc, "w")
      .join(broadcast(ns), "domain")
      .crossJoin(broadcast(nc))
      .select(col("domain"),
        (col("c_s") * (mn(col("c_s").cast("double") / col("n_s").cast("double")) -
          mn(col("c_c").cast("double") / col("n_c").cast("double")))).as("term"))
      .groupBy("domain")
      .agg(sum("term").as("kl_micro_sum"))
      .join(broadcast(ns), "domain")
      .select(col("domain"), col("n_s").as("n_tokens"), col("kl_micro_sum"),
        round(col("kl_micro_sum").cast("double") / (col("n_s") * lit(1e6)), 6)
          .as("kl_nats"))
  }
}

/** Deduplication family: exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine. Shapes chosen for 100 TB: everything is
  * shuffle-by-key or bounded self-join on a blocking key — never an
  * unblocked cross join.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on content. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("rep_doc_id"), count(lit(1)).as("n_copies"))

  /** Exact duplicate-substring detection (the suffix-array dedup of
    * Lee et al. 2021, re-expressed shuffle-friendly): every k-token
    * window is fingerprinted row-locally (codegen), windows whose
    * fingerprint occurs in >= minDocs DISTINCT documents are "duplicated
    * text", and per document the overlapping hit windows are merged into
    * maximal spans (gaps-and-islands over a window function). Output:
    * one row per maximal duplicated span (doc_id, start_tok, end_tok,
    * n_grams).
    *
    * Scale shape: fingerprint build is a pure projection; the only wide
    * ops are one hash aggregate on the fingerprint (two-phase; hot
    * boilerplate grams collapse map-side), one equi-join of hits back to
    * the dup-gram set, and one per-doc window sort whose partition is a
    * single document's hits — never the corpus. No suffix array, no
    * global sort, nothing driver-side.
    */
  def dupNgramSpans(docs: DataFrame, k: Int = 20, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"dupNgramSpans: k must be >= 2, got $k")
    // token array bound to a column BEFORE the gram lambda (no CSE into
    // HOF lambdas — see gramRows); fingerprint = xxhash64 (8-byte key,
    // ~4x less shuffle than an md5 hex string; a collision merely merges
    // two windows into one dup class); the gram table feeds both the
    // dup-set aggregate and the join probe, so materialize it once
    // instead of re-tokenizing the corpus twice
    val toks = col("toks")
    val grams = persistShingles(docs
      .select(col("doc_id"), TextStats.tokens(F.lower_simple(col("text"))).as("toks"))
      .select(col("doc_id"),
        posexplode(when(size(toks) >= k,
          transform(sequence(lit(0), size(toks) - k),
            i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(k))))))
          .otherwise(array(Seq.empty[Column]: _*).cast("array<bigint>"))))
      .toDF("doc_id", "pos", "gram"))
    val dupGrams = grams.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs).select("gram")
    val hits = grams.join(dupGrams, "gram")
      .select(col("doc_id"), col("pos").cast("long").as("start"),
        (col("pos") + k - 1).cast("long").as("end"))
    val byDoc = Window.partitionBy("doc_id").orderBy("start")
    val flagged = hits.withColumn("prev_max_end",
      max(col("end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("prev_max_end").isNull || col("start") > col("prev_max_end"),
          1L).otherwise(0L))
    flagged
      .withColumn("island",
        sum(col("ni")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("start").as("start_tok"), max("end").as("end_tok"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "start_tok", "end_tok", "n_grams")
  }

  /** Apply side of [[dupNgramSpans]] (the same train/apply pairing as
    * bpeMerges→bpeEncode): rewrite the corpus with every duplicated-span
    * token REMOVED — the conservative variant of Lee et al.'s
    * suffix-array dedup rewrite (they also evaluate keep-one-occurrence;
    * remove-everywhere needs no global occurrence election and is what
    * their released pipeline defaults to for the exact-substring pass).
    *
    * Output: one row per input document — n_tokens (original), n_removed,
    * and clean_fp = md5 of the space-joined KEPT token stream (the
    * scalar the driver gate can hash; the kept array itself is the
    * internal API, exposed to consumers via the same projection this op
    * builds). Docs without dup spans pass through with n_removed = 0.
    *
    * Physical shape (100 TB): islands per doc are collected into an
    * array (bounded by n_tokens/k per doc — islands are disjoint by
    * construction), the corpus left-joins that doc_id-keyed frame once,
    * and the removal is a row-local filter-with-index lambda over the
    * token array (O(tokens × islands) per row, no shuffle beyond the
    * island join).
    */
  def removeDupSpans(docs: DataFrame, k: Int = 20, minDocs: Int = 2): DataFrame = {
    val spans = dupNgramSpans(docs, k, minDocs)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("spans"))
    val emptySpans =
      array().cast("array<struct<start_tok:bigint,end_tok:bigint>>")
    docs
      .select(col("doc_id"),
        TextStats.tokens(F.lower_simple(col("text"))).as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("spans"), emptySpans).as("spans"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        filter(col("toks"), (t, i) => !exists(col("spans"),
          s => i.cast("long") >= s("start_tok") &&
            i.cast("long") <= s("end_tok"))).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("kept"))).as("clean_fp"))
  }

  // Persisted shingle tables, bounded: repeated dedup calls in one session
  // would otherwise accumulate cached data until memory/disk pressure. The
  // two most recent stay live (a returned-but-unmaterialized DataFrame still
  // references its shingle table); older ones are unpersisted lazily.
  private val liveShingles =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private def persistShingles(sh: DataFrame): DataFrame = {
    val p = sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    liveShingles.add(p)
    while (liveShingles.size() > 2) {
      val old = liveShingles.poll()
      if (old != null) old.unpersist(blocking = false)
    }
    p
  }
  /** Distinct (doc, shingle) pairs of n-token shingles (shingle = the
    * joined token text — required where the downstream hash must be
    * oracle-reproducible, i.e. the MinHash md5 base hash). */
  def shingles(docs: DataFrame, n: Int): DataFrame =
    shingleRows(docs, n)(identity).distinct()

  /** One (doc_id, shingle) row per n-token shingle POSITION, `shingle` =
    * `f` of the window's space-joined token text (tokens of
    * lower_simple(text); a doc shorter than n yields its whole text). The
    * token array is bound to a column BEFORE the shingle lambda (no CSE
    * into HOF lambdas — see gramRows). */
  private def shingleRows(docs: DataFrame, n: Int)(f: Column => Column): DataFrame =
    docs.select(col("doc_id"), TextStats.tokens(F.lower_simple(col("text"))).as("toks"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), greatest(size(col("toks")) - n, lit(0))),
          i => f(array_join(slice(col("toks"), i + 1, lit(n)), " ")))).as("shingle"))

  /** Distinct (doc_id, shingle=xxhash64, mdh=md5-base-hash) in ONE pass:
    * both hashes every shingle consumer needs, computed row-locally on the
    * exploded shingle string BEFORE the distinct, so the corpus-scale
    * distinct Exchange carries three 8-byte longs per row instead of the
    * UTF-8 shingle text (guide §2.2: shuffle fewer bytes). Equality-only
    * consumers read (doc_id, shingle); the MinHash signature min-aggregate
    * reads mdh — a min over a per-doc value SET is unchanged by the
    * distinct being taken on (xx, mdh) pairs rather than strings unless
    * two distinct shingles of one doc collide on BOTH hashes — the 64-bit
    * xxhash64 and the ~31-bit md5-mod-P base hash — simultaneously
    * (~2^-95), strictly rarer than the 2^-64 single-hash caveat
    * [[shingleHashes]] has always documented. */
  def shingleDoubleHashes(docs: DataFrame, n: Int): DataFrame =
    shingleRows(docs, n)(identity)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"),
        baseHash(col("shingle")).as("mdh"))
      .distinct()

  /** Distinct (doc, shingle) with the shingle reduced to its xxhash64 —
    * for equality-only consumers (decontamination, Jaccard blocking) the
    * text is dead weight: an 8-byte long cuts the distinct + self-join
    * shuffle ~5x vs UTF-8 shingle strings. A 2^-64-per-pair collision can
    * only merge two shingles (nudges one intersection count by 1). */
  def shingleHashes(docs: DataFrame, n: Int): DataFrame =
    shingleHashStream(docs, n).distinct()

  /** Un-deduplicated (doc, shingle-hash) stream — one row per shingle
    * POSITION. Callers that can discard most shingles map-side (the Bloom
    * pre-filter) want to do so BEFORE paying the distinct's shuffle.
    */
  private def shingleHashStream(docs: DataFrame, n: Int): DataFrame =
    shingleRows(docs, n)(xxhash64(_))

  /** Benchmark decontamination (the classic n-gram collision rule — GPT-3
    * removed training docs sharing any 13-gram with an eval set): flag
    * training docs whose shingles collide with the benchmark corpus.
    * Blocked equi-join on the shingle; the benchmark side is an eval
    * suite (KB–MB scale), hence broadcast; the training side streams
    * through with one shuffle for the per-doc hit count. Returns
    * (doc_id, n_hits) for thresholding by the caller.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int): DataFrame =
    decontaminateHashed(shingleHashes(docs, n), shingleHashes(bench, n))

  /** [[decontaminate]] core over prehashed distinct (doc_id, shingle)
    * frames — callers holding a session-cached shingle table (see
    * SparkEntry.shingleTable3) derive both sides with a doc_id filter + an
    * xxhash64 projection instead of re-tokenizing the corpus. A frame of
    * hashed DISTINCT-STRING shingles is exactly the oracle's arithmetic
    * (the SQL twin counts distinct shingle strings); it can differ from
    * the stream-hash form only on a 2^-64 intra-doc hash collision — the
    * same caveat [[shingleHashes]] already carries.
    */
  def decontaminateHashed(d: DataFrame, bench: DataFrame): DataFrame = {
    val b = broadcast(bench.select("shingle").distinct())
    d.join(b, "shingle") // d is distinct (doc, shingle) → count = distinct hits
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Bloom-prefiltered decontamination. Returns EXACTLY
    * [[decontaminate]](docs, bench, n): the Bloom admits every true
    * collision (no false negatives, see [[graft.functions.Bloom64]]) and
    * the exact broadcast semi-join behind it strips the ~fpp false
    * positives before counting.
    *
    * What the Bloom changes is WHERE the corpus gets filtered. Plain
    * [[decontaminate]] pays a corpus-scale Exchange for the distinct
    * (doc, shingle) table before the join can discard the ~100% of
    * shingles that never collide with the eval suite. Here the k-probe
    * bitset test runs inside whole-stage codegen on the UN-distincted
    * shingle stream — at 100 TB the distinct and the join only ever see
    * bench-colliding (plus ~5e-4 false-positive) shingles, so the
    * Exchange shrinks from corpus-sized to hit-sized. The bit array is
    * also the cheap way to ship the bench side: ~16 bits/element vs the
    * broadcast hashtable's ~16 bytes + overhead per key.
    *
    * The driver-side collect of the bench hashes is eval-suite scale
    * (GPT-3-style decontamination unions KBs–MBs of benchmarks; guarded
    * at 50M n-grams = ~100 MB Bloom — same size-conditioned pattern as
    * the alias-dictionary broadcast in kg/Kg.scala).
    */
  def bloomDecontaminate(docs: DataFrame, bench: DataFrame, n: Int,
                         bitsPerElement: Int = 16, k: Int = 5): DataFrame = {
    val (benchHashes, words) = benchBloomBuild(bench, n, bitsPerElement, k)
    bloomDecontaminateWith(docs, benchHashes, words, n, k)
  }

  /** Build side of [[bloomDecontaminate]], split out so callers that run
    * several decontamination passes against the SAME bench slice (e.g. a
    * session running q_bloom_decontaminate + both curate composites) pay
    * the bench shingle scan + driver collect + bit-array build once
    * (guide §2.4). Returns the distinct bench hash frame (checkpointed —
    * it is re-read by every apply's exact-verify broadcast) + the Bloom
    * words array.
    */
  def benchBloomBuild(bench: DataFrame, n: Int, bitsPerElement: Int = 16,
                      k: Int = 5): (DataFrame, Array[Long]) = {
    val benchHashes = shingleHashes(bench, n).select("shingle").distinct()
      .localCheckpoint()
    // limit(N+1) bounds the collect (no sort: the set, not the order,
    // feeds the Bloom; > N rows only ever reaches the require below)
    val hs = benchHashes.limit(50000001).collect().map(_.getLong(0))
    require(hs.length <= 50000000,
      "bench side exceeds 50M distinct n-grams — shard the Bloom build")
    (benchHashes, graft.functions.Bloom64.build(hs, bitsPerElement, k))
  }

  /** Apply side of [[bloomDecontaminate]] over a prebuilt bench filter.
    * `shinglesOpt`: a precomputed HASHED distinct (doc_id, shingle: long)
    * table covering at least `docs` (e.g. the session-cached xxhash64
    * shingle view) — the apply side then restricts it with one doc_id
    * semi-join instead of re-tokenizing `docs`; the Bloom probe still
    * runs map-side before the (hit-sized) distinct Exchange.
    * Result-identical per the [[decontaminateHashed]] argument.
    */
  def bloomDecontaminateWith(docs: DataFrame, benchHashes: DataFrame,
                             words: Array[Long], n: Int,
                             k: Int = 5,
                             shinglesOpt: Option[DataFrame] = None): DataFrame =
    (shinglesOpt match {
      case Some(sh) => sh.join(docs.select("doc_id"), Seq("doc_id"), "left_semi")
      case None => shingleHashStream(docs, n)
    })
      .where(F.bloom_contains(col("shingle"), words, k)) // map-side, codegen'd
      .distinct()
      .join(broadcast(benchHashes), "shingle") // exact verify kills false positives
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))

  /** Exact n-gram Jaccard pairs >= threshold. The blocking key is the
    * shingle itself (pairs that share no shingle have J=0 and are never
    * materialized). At scale, frequent shingles are the skew risk: drop
    * super-frequent shingles (stop-shingles) before the self-join.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        maxShingleFreq: Long = 1000L,
                        shinglesOpt: Option[DataFrame] = None): DataFrame = {
    // the (doc, shingle) table feeds four consumers (both join sides, the
    // stop-shingle DF, sizes); materialize once instead of four scans +
    // shuffles of the raw corpus — at 100 TB this is the standard
    // "materialize the shingle table" step (MEMORY_AND_DISK spills cleanly).
    // shinglesOpt: a precomputed HASHED distinct (doc_id, shingle: long)
    // table for the SAME docs/n — e.g. the session-cached xxhash64 view
    // of the string table the MinHash family reads. Hashing the
    // distinct-string rows is exactly the oracle's blocking set (its SQL
    // joins shingle strings) and can differ from shingleHashes only on a
    // 2^-64 intra-doc collision, the caveat this op already documents.
    val sh = shinglesOpt.getOrElse(persistShingles(shingleHashes(docs, n)))
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxShingleFreq)
    val shf = sh.join(rare.select("shingle"), Seq("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = shf.as("a").join(shf.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard",
        round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** MinHash base hash: md5-derived 60-bit value reduced mod P — chosen
    * over murmur so the DuckDB oracle can reproduce it bit-for-bit
    * (('0x'||substring(md5(s),1,15))::BIGINT % P).
    */
  val MinhashP = 2147483647L // 2^31-1; (a*h+b) stays < 2^62, no overflow
  private[graft] def baseHash(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 15), 16, 10).cast("long") % MinhashP

  /** MinHash signatures (doc_id, mh_0..mh_{numHashes-1}): k affine slots
    * mh_k = (a_k*h + b_k) mod P over the md5 base hash, all k computed in
    * ONE aggregation pass — no k-fold row explode: the shuffle carries
    * |docs| wide partial rows instead of |shingles|*k exploded rows (a 32x
    * shuffle-volume cut at defaults). Per-slot affine constants are plain
    * Scala longs, arithmetic identical to the previous per-row form.
    */
  private[graft] def signaturesWide(sh: DataFrame, numHashes: Int): DataFrame =
    signaturesWideOnH(sh.select(col("doc_id"), baseHash(col("shingle")).as("h")),
      numHashes)

  /** Signature slots over a precomputed base-hash column (doc_id, h) —
    * min per slot is duplicate-insensitive, so any frame carrying the
    * same per-doc SET of base hashes yields identical signatures. */
  private[graft] def signaturesWideOnH(dh: DataFrame, numHashes: Int): DataFrame = {
    val p = lit(MinhashP)
    val aggs = (0 until numHashes).map { k =>
      val ak = 2654435761L * (k + 1) % MinhashP
      val bk = 40503L * (k + 7) % MinhashP
      min((lit(ak) * col("h") + lit(bk)) % p).as(s"mh_$k")
    }
    dh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Per-band join key as the RAW signature slots: struct(band, mh_{b·r}
    * .. mh_{b·r+r-1}). Equality of this struct is EXACTLY equality of the
    * old concat_ws(",", array_sort(["k:mh_k"...])) band-hash string for
    * the same band — the k atoms of a fixed band are the same constants
    * on both join sides, and a multiset of "k:v" atoms with distinct k
    * prefixes determines (and is determined by) the per-k values — so
    * the candidate set is identical while the band table sheds the
    * string building (concat/array_sort) and shuffles r 8-byte longs
    * instead of a ~45-byte string per row.
    */
  private[graft] def bandKeys(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val slots = (0 until rows).map(i => col(s"mh_${b * rows + i}").as(s"m$i"))
      struct(lit(b).as("band") +: slots: _*)
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
  }

  /** LSH candidate pairs + exact-Jaccard verification. `shinglesOpt`: a
    * precomputed distinct (doc_id, shingle-STRING) table for the same
    * (docs, n) — e.g. the session-cached whole-corpus table — replacing
    * the tokenize+explode+distinct derivation here (guide §2.4).
    */
  def minhashDupPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
                      bands: Int = 8, threshold: Double = 0.5,
                      shinglesOpt: Option[DataFrame] = None): DataFrame = {
    val shAll = shinglesOpt.getOrElse(persistShingles(shingles(docs, n)))
    val sig = bandKeys(signaturesWide(shAll, numHashes), numHashes, bands)
    lshVerifiedPairs(sig, shAll, threshold)
  }

  /** [[minhashDupPairs]] over a precomputed [[shingleDoubleHashes]] table
    * (doc_id, shingle=xxhash64, mdh=md5-base-hash): signatures take the
    * mdh set (min per slot — identical to the string path, see
    * [[shingleDoubleHashes]]), the exact-Jaccard verify joins on the
    * xxhash64 column (the batch-5 caveat), and no corpus string ever
    * shuffles. Asserted pair-set-equal to the string path in CorpusSpec. */
  def minhashDupPairsFromHashes(hashed: DataFrame, numHashes: Int = 32,
                                bands: Int = 8,
                                threshold: Double = 0.5): DataFrame = {
    val sig = bandKeys(signaturesWideOnH(
      hashed.select(col("doc_id"), col("mdh").as("h")), numHashes),
      numHashes, bands)
    lshVerifiedPairs(sig, hashed.select("doc_id", "shingle"), threshold)
  }

  /** Band-bucket candidate join + exact-Jaccard verify over any
    * (doc_id, shingle) table whose shingle column supports equality
    * (string or 64-bit hash) — the shared tail of the two pair builders. */
  private def lshVerifiedPairs(sig: DataFrame, sh: DataFrame,
                               threshold: Double): DataFrame = {
    val cand = sig.as("a").join(sig.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify candidates with exact jaccard (semi-join back to the
    // already-materialized shingle table)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    cand.join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard",
        round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Cross-corpus MinHash-LSH verified near-dup pairs (docsA × docsB,
    * same shingle/signature/band family as [[minhashDupPairs]]) — the
    * fuzzy-decontamination primitive: n-gram-overlap decontamination
    * ([[TextStats.decontaminate]]-style 13-gram hits) misses paraphrased
    * or lightly-edited bench leakage, so modern pipelines (e.g. the
    * Llama/GPT-3-era eval-dedup appendices) ALSO drop training docs that
    * are near-duplicates of an eval doc. Signatures are row-local, so
    * per-table computation is exactly the whole-table computation; the
    * band join is cross-table (no a<b orientation — sides are disjoint
    * corpora), candidates verify with Jaccard over the two tables'
    * xxhash64 shingle columns (exact up to the 2^-64 collision caveat of
    * [[shingleHashes]]). At 10^12 train docs the bench side is tiny, so every join
    * here is a bench-keyed (band, bh) equi-join AQE will broadcast.
    */
  def minhashCrossPairs(docsA: DataFrame, docsB: DataFrame, n: Int = 3,
                        numHashes: Int = 32, bands: Int = 8,
                        threshold: Double = 0.5): DataFrame = {
    // same one-pass double-hash shape as the whole-corpus builder: md5
    // base hash feeds the signatures, xxhash64 feeds the verify join, no
    // shingle string crosses an Exchange (the train side is the 10^12-doc
    // one — its shingle text is exactly the shuffle this op cannot afford)
    val shA = persistShingles(shingleDoubleHashes(docsA, n))
    val shB = persistShingles(shingleDoubleHashes(docsB, n))
    def bandsOf(sh: DataFrame) =
      bandKeys(signaturesWideOnH(
        sh.select(col("doc_id"), col("mdh").as("h")), numHashes),
        numHashes, bands)
    val cand = bandsOf(shA).as("a").join(bandsOf(shB).as("b"),
        col("a.bk") === col("b.bk"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val szA = shA.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val szB = shB.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    cand
      .join(shA.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(shB.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(szA.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(szB.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard",
        round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Per-train-doc fuzzy contamination report: how many bench docs each
    * training doc is a near-duplicate of, and the worst overlap — the
    * audit table a curator reads before dropping; `train.join(report,
    * "doc_id", "left_anti")` is the apply side.
    */
  def fuzzyDecontaminationReport(train: DataFrame, bench: DataFrame,
                                 n: Int = 3, numHashes: Int = 32,
                                 bands: Int = 8,
                                 threshold: Double = 0.5): DataFrame =
    minhashCrossPairs(train, bench, n, numHashes, bands, threshold)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("n_bench_dups"), max("jaccard").as("max_jaccard"))

  /** [[fuzzyDecontaminationReport]] derived from an already-computed
    * WHOLE-corpus verified pair table ([[minhashDupPairs]] output over
    * train ∪ bench, same n/numHashes/bands family, threshold <= ours).
    *
    * Equivalence: signatures and band hashes are row-local and the
    * exact-Jaccard verify is pairwise, so the cross-corpus pair set of
    * two DISJOINT slices of one corpus is exactly the whole-corpus pair
    * set restricted to one endpoint per slice — the unordered (a < b)
    * orientation is undone by unioning both orientations before the
    * slice predicates. Callers that session-cache the corpus pair table
    * pay two codegen'd filters instead of a second full LSH DAG
    * (guide §2.4). Asserted equal to the from-scratch form in DedupSpec.
    *
    * `isTrain`/`isBench` are row predicates over a doc_id column; the
    * slices they induce must be disjoint (a doc on both sides would pair
    * with itself upstream and be dropped by minhashDupPairs' a < b).
    */
  def fuzzyDecontaminationReportFromPairs(pairs: DataFrame,
                                          isTrain: Column => Column,
                                          isBench: Column => Column,
                                          threshold: Double): DataFrame =
    pairs.select(col("doc_a").as("t"), col("doc_b").as("b"), col("jaccard"))
      .unionByName(pairs.select(col("doc_b").as("t"), col("doc_a").as("b"),
        col("jaccard")))
      .where(col("jaccard") >= threshold &&
        isTrain(col("t")) && isBench(col("b")))
      .groupBy(col("t").as("doc_id"))
      .agg(count(lit(1)).as("n_bench_dups"), max("jaccard").as("max_jaccard"))

  /** 64-bit SimHash over token FNV hashes (row-local, no shuffle; native
    * codegen expression — the scan+project stays in whole-stage codegen).
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      F.simhash64(F.lower_simple(col("text"))).as("simhash"))

  /** Near-dup pairs via embedding cosine >= threshold, blocked through
    * `tables` independent hyperplane-LSH bucket sets (multi-probe recall):
    * candidates are pairs sharing a bucket in ANY table, then exact-cosine
    * verified. Every join is an equi-join on a bucket/id key — no
    * BroadcastNestedLoopJoin anywhere, so the shape survives 100 TB.
    * The DuckDB oracle inlines the identical seeded planes.
    *
    * With `assign`, a k-means assignment frame (vec_id, cluster), the
    * candidate set is further restricted to SAME-CLUSTER pairs: the
    * cluster joins the LSH bucket as the blocking key, so candidates must
    * share BOTH before the exact-cosine verify — the pair-generation
    * stage of SemDeDup (Abbas et al. 2023, arXiv:2303.09540). At 100 TB
    * the cluster term is what makes the self-join tractable: bucket
    * populations are corpus-wide under plain LSH, but cluster∧bucket
    * blocks are bounded by the cluster size, and clusters are sized by
    * choosing k (the paper runs k ≈ √N). On a corpus whose k-means
    * clusters are well separated (inter-cluster cosine < threshold) the
    * restriction loses NO pairs — asserted in SemDedupSpec.
    */
  def embeddingDupPairs(emb: DataFrame, threshold: Double, bits: Int = 8,
                        dim: Int = 64, tables: Int = 4, seed: Long = 42L,
                        assign: Option[DataFrame] = None): DataFrame = {
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val base = assign.fold(vecs)(a =>
      vecs.join(a.select(col("vec_id"), col("cluster")), "vec_id"))
    val cand = (0 until tables).map { t =>
      val b = base.withColumn("bucket",
        F.hyperplane_sig(col("embedding"), Similarity.planes(bits, dim, seed + t)))
      val sameBlock = col("a.bucket") === col("b.bucket")
      b.as("a").join(b.as("b"),
          assign.fold(sameBlock)(_ => col("a.cluster") === col("b.cluster") && sameBlock) &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    }.reduce(_ unionAll _).distinct()
    cand
      .join(base.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(base.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(F.cosine(col("emb_a"), col("emb_b")), 6).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Exact all-pairs baseline — O(N²) sims, an unblocked self-join. ONLY
    * for small inputs (guarded); the scale path is [[embeddingDupPairs]].
    */
  def embeddingDupPairsBrute(emb: DataFrame, threshold: Double,
                             maxRows: Long = 100000L): DataFrame = {
    val n = emb.count()
    require(n <= maxRows,
      s"embeddingDupPairsBrute is all-pairs; $n rows > $maxRows. Use embeddingDupPairs.")
    emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(F.cosine(col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** End-to-end near-dup CLUSTERING: MinHash-LSH pairs → connected
    * components over the dup-pair graph → one survivor per cluster
    * (min doc_id). Returns every doc with its cluster id and a `keep`
    * flag; `docs.join(result.where($"keep"), "doc_id")` is the dedup'd
    * corpus.
    *
    * Scale shape: CC runs only over the docs that appear in a dup pair
    * (near-dup graphs are a small fraction of the corpus), then the full
    * corpus left-joins the component map — isolated docs never enter the
    * CC iteration. Ids are zero-padded strings so the component min
    * (string order) equals the numeric min.
    */
  def dedupClusters(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
                    bands: Int = 8, threshold: Double = 0.5): DataFrame =
    // materialize the pair set ONCE: connected components reads its edge
    // input several times (size probe, per-round joins or driver collect),
    // and each read would otherwise re-run the whole MinHash DAG. The pair
    // set is a small fraction of the corpus, so an eager localCheckpoint
    // is cheap at any scale.
    dedupClustersFromPairs(docs,
      minhashDupPairs(docs, n, numHashes, bands, threshold))

  /** [[dedupClusters]] over an already-computed dup-pair frame
    * (doc_a, doc_b) — lets callers that also report the pairs themselves
    * (or cache them per session) pay the MinHash DAG once. */
  def dedupClustersFromPairs(docs: DataFrame, dupPairs: DataFrame): DataFrame = {
    val pairs = dupPairs.select("doc_a", "doc_b").localCheckpoint()
    // 20 chars covers every non-negative Long (max 19 digits) — lpad
    // TRUNCATES overlong strings, so a 15-pad would silently corrupt
    // doc_id >= 10^15; negative ids are rejected because '-' breaks the
    // string-order == numeric-order invariant the component min relies on
    def pad(c: Column) = {
      val l = c.cast("long")
      lpad(when(l < 0, raise_error(concat(lit("dedupClusters: negative doc_id "), c)))
        .otherwise(l).cast("string"), 20, "0")
    }
    val edges = pairs.select(pad(col("doc_a")).as("src"), pad(col("doc_b")).as("dst"))
    val nodes = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
    val cc = graft.kg.ConnectedComponents.runAdaptive(edges, nodes)
      .select(col("id").cast("long").as("doc_id"),
        col("component").cast("long").as("cluster_id"))
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("cluster_id") === col("doc_id"))
  }
}

object Simhash {
  private val TokP = java.util.regex.Pattern.compile(graft.ops.TextStats.TokRe)

  /** murmur-free deterministic 64-bit token hash (splitmix over chars). */
  def tokenHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }

  def of(text: String): Long = {
    val counts = new Array[Int](64)
    val m = TokP.matcher(text)
    while (m.find()) {
      val h = tokenHash(m.group())
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}

/** Similarity search over an embedding column. */
object Similarity {

  /** Brute-force cosine top-k: queries broadcast against the full table,
    * per-query top-k via window rank. Exact baseline; O(Q*N) sims but fully
    * distributed and the scan side is a single pass.
    */
  def bruteTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val scored = emb.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        F.cosine(col("embedding"), col("q_emb")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** Recall@k report: for each query, how much of the brute-force truth
    * each approximate index recovered — the "measure, don't guess"
    * artifact a team reads before committing to an index config (nprobe,
    * bits, tables). Integer ppm via BIGINT floor division, so the row is
    * engine-exact. One left equi-join per method on (query, neighbor) +
    * a per-query aggregate; a method that returned nothing for a query
    * still reports recall 0 (the truth side drives the join).
    */
  def annRecall(exact: DataFrame,
                approxes: Seq[(String, DataFrame)]): DataFrame = {
    require(approxes.nonEmpty, "annRecall: need at least one method")
    approxes.map { case (name, ap) =>
      exact.select(col("query_id"), col("neighbor_id"))
        .join(ap.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k_exact"),
          sum(coalesce(col("hit"), lit(0))).as("n_hits"))
        .select(lit(name).as("method"), col("query_id"), col("k_exact"),
          col("n_hits"),
          expr("(n_hits * 1000000) div k_exact").as("recall_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Random-hyperplane LSH bucketing (the scale path): sign-bit signature,
    * candidates restricted to equal buckets, then exact cosine re-rank.
    * Hyperplanes are seeded-deterministic and broadcast.
    */
  /** seeded hyperplanes — public so the DuckDB oracle SQL can inline the
    * exact same values (java.lang.Double.toString round-trips).
    */
  def planes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(bits, dim)(rnd.nextGaussian())
  }

  def annLsh(emb: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
             dim: Int = 64, seed: Long = 42L): DataFrame = {
    // native codegen signature expression — the scan side stays inside
    // whole-stage codegen (no UDF Invoke node in the plan)
    val ps = planes(bits, dim, seed)
    val base = emb.withColumn("bucket", F.hyperplane_sig(col("embedding"), ps))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
      .withColumn("q_bucket", F.hyperplane_sig(col("q_emb"), ps)))
    val scored = base.join(q,
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        F.cosine(col("embedding"), col("q_emb")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** seeded IVF coarse-quantizer centroids — public so the DuckDB oracle
    * can inline the exact same values (Double.toString round-trips).
    */
  def ivfCentroids(cells: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(cells, dim)(rnd.nextGaussian())
  }

  /** IVF-style ANN (the second scale path, alongside [[annLsh]]): every
    * vector is assigned to its nearest seeded centroid cell (native
    * codegen IvfCell — one pass, no shuffle on the data side); each query
    * probes its `nprobe` nearest cells and exact-cosine re-ranks only the
    * vectors in those cells. Candidate count scales as nprobe/cells of the
    * table per query instead of N — at 100 TB the cell column is computed
    * at ingest and the probe join is an equi-join on cell id, so AQE can
    * split skewed cells. Recall improves with nprobe (nprobe = cells is
    * exact search). Centroids here are seeded-random so the DuckDB oracle
    * can inline them; in production you'd train them offline (k-means over
    * a sample) and pass the trained array — the plan shape is unchanged.
    */
  /** seeded PQ sub-centroids (m subspaces × ksub × dim/m) — public so the
    * DuckDB oracle can inline the exact same values.
    */
  def pqSubCentroids(m: Int, ksub: Int, subdim: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(m, ksub, subdim)(rnd.nextGaussian())
  }

  /** IVF-PQ ANN — the third scale path (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): coarse IVF
    * cell assignment + an m-byte product-quantization code per vector
    * (per-subspace nearest sub-centroid, spherical/cosine variant reusing
    * the IvfCell codegen). Query: probe nprobe cells, score candidates by
    * ADC (asymmetric distance: sum over subspaces of query-slice ·
    * assigned sub-centroid — the candidate join carries only the m codes,
    * ~m bytes/vector instead of 4·dim), keep top-`rerank` per query by
    * ADC, then fetch ONLY those vectors' embeddings (broadcast-joined
    * candidate list) for the exact-cosine top-k. At 100 TB: codes+cells
    * are computed once at ingest; the ADC probe join never moves raw
    * embeddings, and the rerank fetch is top-R·Q rows. Determinism: both
    * engine and oracle accumulate dots sequentially left-to-right, so ADC
    * ranks are bit-identical; output ties break on neighbor_id.
    */
  def annIvfPq(emb: DataFrame, queries: DataFrame, k: Int,
               cells: Int = 16, nprobe: Int = 4, dim: Int = 64,
               m: Int = 8, ksub: Int = 16, rerank: Int = 32,
               seed: Long = 7L, pqSeed: Long = 11L): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subdim = dim / m
    val cs = ivfCentroids(cells, dim, seed)
    val subs = pqSubCentroids(m, ksub, subdim, pqSeed)
    val codeCols = (0 until m).map(i =>
      F.ivf_cell(slice(col("embedding"), i * subdim + 1, subdim), subs(i)).as(s"c$i"))
    val base = emb.select(
      col("vec_id") +: F.ivf_cell(col("embedding"), cs).as("cell") +: codeCols: _*)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      .withColumn("q_cell", explode(F.ivf_probe(col("q_emb"), cs, nprobe))))
    val lut = typedLit(subs.map(_.map(_.toSeq).toSeq).toSeq)
    def dot(a: Column, b: Column): Column = // sequential fold, 0.0+p1+...+pn
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y),
        lit(0.0), (acc, v) => acc + v)
    val adc = (0 until m).map { i =>
      dot(slice(col("q_emb"), i * subdim + 1, subdim),
        element_at(element_at(lut, i + 1), col(s"c$i") + 1))
    }.reduce(_ + _)
    val cand = base
      .join(q, col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adc.as("adc"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    val top = cand.withColumn("arank", row_number().over(wAdc))
      .where(col("arank") <= rerank).drop("adc", "arank")
    // rerank fetch: only top-R·Q vectors' embeddings move (broadcast side)
    val scored = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(top.hint("broadcast"), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        F.cosine(col("embedding"), col("q_emb")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  def annIvf(emb: DataFrame, queries: DataFrame, k: Int, cells: Int = 16,
             nprobe: Int = 4, dim: Int = 64, seed: Long = 7L): DataFrame = {
    val cs = ivfCentroids(cells, dim, seed)
    val base = emb.withColumn("cell", F.ivf_cell(col("embedding"), cs))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      .withColumn("q_cell", explode(F.ivf_probe(col("q_emb"), cs, nprobe))))
    val scored = base.join(q,
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        F.cosine(col("embedding"), col("q_emb")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** All-vectors kNN graph: every vector's top-k cosine neighbors — the
    * precursor artifact of GNN training, graph-based dedup, and kNN-LM
    * retrieval indices. Same IVF cell blocking as [[annIvf]], but the
    * query side is the WHOLE table, so nothing is broadcast: the base
    * side keys on its one nearest cell, the query side explodes to its
    * `nprobe` probed cells, and candidates meet in a cell-keyed SHUFFLE
    * equi-join — the only join shape that survives 10^9 vectors on both
    * sides. A (query, neighbor) pair surfaces at most once (the neighbor
    * owns exactly one cell), so no dedup pass is needed before ranking.
    *
    * Skew: cell populations follow the data distribution; at web scale a
    * hot cell makes a quadratic block — cap it by training more
    * centroids ([[kmeans]] is the offline trainer; cells ≈ √N bounds the
    * expected block, the SemDeDup/IVF sizing rule) and AQE skew-join
    * splitting handles the residual head. nprobe=cells degrades to the
    * exact brute-force graph (asserted in SearchSpec) — the recall knob
    * is explicit, not hidden.
    */
  def knnGraph(emb: DataFrame, k: Int = 3, cells: Int = 16, nprobe: Int = 4,
               dim: Int = 64, seed: Long = 7L): DataFrame = {
    val cs = ivfCentroids(cells, dim, seed)
    val base = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"))
      .withColumn("cell", F.ivf_cell(col("n_emb"), cs))
    val q = emb.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      .withColumn("cell", explode(F.ivf_probe(col("q_emb"), cs, nprobe)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    q.join(base, "cell") // cell-keyed shuffle join — neither side broadcast
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        F.cosine(col("q_emb"), col("n_emb")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** Lloyd's k-means over the embedding table — the offline centroid
    * trainer the IVF docs above point at ("in production you'd train
    * them offline"). Returns the final per-vector assignment
    * (vec_id, cluster, d2).
    *
    * EXACTNESS CONTRACT (the integer analogue of the micro-nat rule):
    * vectors are quantized once to milli-units (`floor(v·1000 + 0.5)` as
    * BIGINT), distances are integer squared-L2, and centroid updates are
    * integer truncated means (`sum div count`, Java semantics — DuckDB
    * `//` matches). Float k-means depends on summation order (a shuffle
    * reorders partial sums); integer sums don't, so assignments are
    * bit-reproducible across partitionings and engines. Quantization
    * error is bounded by 0.0005/component — irrelevant for cluster
    * shapes, decisive for verifiability.
    *
    * Determinism: init = the k lowest-vec_id vectors (clusters 0..k-1);
    * assignment ties break on lower cluster id; a cluster that loses all
    * members simply drops out (no re-seeding — mirrored by the oracle).
    *
    * Scale shape per iteration: broadcast the k×d centroid table (tiny),
    * one narrow pass computes every vector's nearest centroid (no
    * shuffle on the data side), then ONE two-phase aggregate per
    * (cluster, pos) rebuilds centroids — at 10^9 vectors the shuffle
    * carries k·d rows. localCheckpoint keeps the iterated plan O(1)-deep.
    */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    require(k >= 1 && iters >= 1, "kmeans: k/iters must be >= 1")
    val q = emb.select(col("vec_id"),
      transform(col("embedding"),
        v => floor(v.cast("double") * 1000 + 0.5).cast("long")).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cent = q.orderBy("vec_id").limit(k)
      .select((row_number().over(Window.orderBy("vec_id")) - 1)
        .cast("long").as("cluster"), col("q").as("c"))
      .localCheckpoint()
    // argmin via a PACKED long (d2*k + cluster): lexicographic
    // (d2, cluster) order exactly, but min(long) stays a HashAggregate —
    // min(struct) demotes to SortAggregate, a per-vec_id sort the N·k-row
    // assignment input cannot afford at 10^9 vectors. Safe while
    // d2 < Long.Max/k: milli-quantized unit-scale embeddings sit ~8
    // orders below that.
    def assign(c: DataFrame): DataFrame = q
      .crossJoin(broadcast(c))
      .select(col("vec_id"),
        (aggregate(zip_with(col("q"), col("c"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x) * k + col("cluster")).as("packed"))
      .groupBy("vec_id").agg(min(col("packed")).as("m"))
      .select(col("vec_id"), pmod(col("m"), lit(k.toLong)).as("cluster"),
        expr(s"m div ${k}L").as("d2"))
    var assigned = assign(cent)
    for (i <- 1 to iters) {
      cent = assigned.join(q, "vec_id")
        .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          expr("s div n").as("cv")))), x => x.getField("cv")).as("c"))
        .localCheckpoint()
      assigned = assign(cent)
    }
    q.unpersist(blocking = false)
    assigned
  }
}
