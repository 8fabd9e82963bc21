package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly ops for training-data pipelines: deterministic
  * stratified sampling (per-language mixture rates), greedy sequence
  * packing into fixed token budgets, and domain-mixture accounting.
  * All row-local or single-shuffle; no UDFs, no driver loops.
  */
object Corpus {

  /** 60-bit md5-derived uniform hash in [0, 1e6) — same construction as
    * [[Dedup.MinhashP]]'s base hash, chosen so DuckDB reproduces it
    * bit-for-bit: ('0x'||substring(md5(s),1,15))::BIGINT % 1000000.
    */
  private def ppmHash(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long") % 1000000L

  /** Deterministic stratified sampling by language: keep a doc iff
    * hash(doc_id) mod 1e6 < rate(lang)·1e6. Hash-based (not `rand()`) so
    * the sample is reproducible across runs/retries and JOIN-stable —
    * the property a resumable 10^12-doc job needs (a task retry with
    * `rand()` silently changes the sample). Rates are rounded to ppm
    * driver-side so Spark and the SQL oracle compare the same integer.
    * Entirely row-local: filter + project, stays in one codegen stage,
    * pushes down to the scan.
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
                       defaultRate: Double = 1.0): DataFrame = {
    val ppm = rates.map { case (k, v) => k -> math.round(v * 1e6) }
    val rateCol =
      if (ppm.isEmpty) lit(math.round(defaultRate * 1e6))
      else coalesce(
        element_at(map(ppm.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*),
          col("lang")),
        lit(math.round(defaultRate * 1e6)))
    docs.where(ppmHash(col("doc_id")) < rateCol)
      .select(col("doc_id"), col("lang"))
  }

  /** Greedy sequence packing: assign docs to fixed-token-budget training
    * sequences. Docs are sharded (doc_id mod shards), ordered within a
    * shard, and a doc's pack is floor(tokens-before-it / budget) — the
    * streaming "fill until the boundary crosses" rule. The window runs
    * per shard, so parallelism = shard count: at 10^12 docs you raise
    * `shards` to O(cluster cores) and each shard's cumulative sum is an
    * independent single-pass stream (one shuffle on the shard key, no
    * global sort).
    */
  def packSequences(docs: DataFrame, budget: Int = 512,
                    shards: Int = 8): DataFrame =
    packSequencesByCounts(
      docs.select(col("doc_id"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens")),
      budget, shards)

  /** [[packSequences]] core over a precomputed (doc_id, n_tokens) frame —
    * the packing rule is tokenizer-agnostic; callers choose the counter
    * (regex tokens above, learned-BPE pieces in [[packBpe]]).
    */
  def packSequencesByCounts(counts: DataFrame, budget: Int = 512,
                            shards: Int = 8): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    counts.select(col("doc_id"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        col("n_tokens").cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"),
        expr(s"cum_before div $budget").as("pack_id"), col("n_tokens"))
  }

  /** Sequence packing by REAL tokenizer counts: docs are costed in learned
    * BPE pieces (the budget a training run actually spends), not regex
    * words. Counts come off the distinct-word vocab ([[TextStats.bpeVocab]]
    * `size(syms)` projection + one word-keyed equi-join + per-doc sum) —
    * the piece stream itself is never exploded, so at 100 TB this adds one
    * vocab join to [[packSequences]]'s single shard-key shuffle.
    */
  def packBpe(docs: DataFrame, merges: DataFrame, budget: Int = 512,
              shards: Int = 8, vocabOpt: Option[DataFrame] = None): DataFrame = {
    val sizes = vocabOpt.getOrElse(TextStats.bpeVocab(docs, merges))
      .select(col("w"), size(col("syms")).cast("long").as("k"))
    val counts = docs
      .select(col("doc_id"),
        explode(TextStats.tokens(graft.functions.F.lower_simple(col("text")))).as("w"))
      .join(sizes, "w")
      .groupBy("doc_id").agg(sum("k").as("n_tokens"))
    packSequencesByCounts(counts, budget, shards)
  }

  /** End-to-end curation pipeline — the composed training-data flow a
    * 100 TB corpus actually runs, as ONE DataFrame DAG:
    *
    *   1. quality gate (row-local token-count filter; pushes to the scan)
    *   2. near-dup clustering over the GATED corpus; only cluster
    *      survivors (min doc_id) continue
    *   3. decontamination: any 3-gram shingle collision with the `bench`
    *      frame drops the doc (left_anti — docs with zero hits pass);
    *      the Bloom-prefiltered variant (result-identical, see
    *      [[Dedup.bloomDecontaminate]]) so the stage's distinct Exchange
    *      only carries bench-colliding shingles. NOTE: the Bloom build
    *      collects the bench n-gram hashes when curate() is CALLED (one
    *      small eager job on the bench frame), not at execution time
    *   4. deterministic stratified sampling by language (ppm hash gate)
    *   5. greedy sequence packing into fixed token budgets
    *
    * Output = [[packSequences]] rows (doc_id, shard, pack_id, n_tokens)
    * over the curated survivors. Stage ORDER is part of the contract:
    * clusters are computed on the quality-gated set (not the raw corpus),
    * decontamination sees only dedup survivors, and the sample rates
    * apply to the clean pool — the same composition order as the
    * published curation pipelines (quality -> dedup -> decontaminate ->
    * mix). Each stage is the already-certified operator, so the
    * composition adds joins but no new shuffle shapes; the intermediate
    * frames stay (doc_id)-keyed so every stitch is an equi-join AQE can
    * plan (semi-join fan-in, broadcast when small).
    */
  def curate(docs: DataFrame, bench: DataFrame,
             rates: Map[String, Double], minTokens: Int = 10,
             dedupThreshold: Double = 0.5,
             budget: Int = 512, shards: Int = 8,
             dupPairs: Option[DataFrame] = None,
             benchFilter: Option[(DataFrame, Array[Long])] = None,
             docShingles: Option[DataFrame] = None): DataFrame = {
    val clean = cleanPool(docs, bench, minTokens, dedupThreshold,
      dupPairs, benchFilter, docShingles)
    val sampled = clean.join(
      stratifiedSample(clean, rates).select("doc_id"), Seq("doc_id"))
    packSequencesByCounts(sampled.select(col("doc_id"), col("n_tokens")),
      budget, shards)
  }

  /** The clean pool (doc_id, lang, text, n_tokens) that [[curate]] and
    * [[curateDsir]] select from: quality gate → near-dup survivors →
    * decontaminated, each stage stitched back by a doc_id equi-join. */
  private def cleanPool(docs: DataFrame, bench: DataFrame, minTokens: Int,
                        dedupThreshold: Double, dupPairs: Option[DataFrame],
                        benchFilter: Option[(DataFrame, Array[Long])],
                        docShingles: Option[DataFrame]): DataFrame = {
    // ONE tokenization pass: the quality gate and the final packing both
    // need size(tokens(text)) — compute it in the gate projection and
    // carry the count through the (doc_id-keyed) stitches to
    // packSequencesByCounts, instead of re-running the regex tokenizer
    // over the survivors (guide §1.2 step 2: don't compute things twice)
    val gated = docs.select(col("doc_id"), col("lang"), col("text"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
      .where(col("n_tokens") >= minTokens)
    val survivors = gated.join(
      Dedup.dedupClustersFromPairs(gated,
          gatedPairs(gated, dupPairs, dedupThreshold))
        .where(col("keep")).select("doc_id"),
      Seq("doc_id"))
    survivors.join(
      decontaminated(survivors, bench, benchFilter, docShingles).select("doc_id"),
      Seq("doc_id"), "left_anti")
  }

  /** Bloom-decontamination stage over either a prebuilt bench filter
    * (callers that share one bench slice across several composites —
    * result-identical, see [[Dedup.benchBloomBuild]]) or built here.
    * `docShingles`: a precomputed HASHED distinct (doc_id, shingle: long)
    * table covering the corpus (the xxhash64 view of the same shingle
    * table the dedup stage's pair table was derived from) — the apply
    * side then restricts it by doc_id instead of re-tokenizing the
    * survivors (one fewer corpus regex pass; see
    * [[Dedup.bloomDecontaminateWith]] for the result-identity argument).
    */
  private def decontaminated(survivors: DataFrame, bench: DataFrame,
                             benchFilter: Option[(DataFrame, Array[Long])],
                             docShingles: Option[DataFrame] = None): DataFrame =
    benchFilter match {
      case Some((bh, words)) =>
        Dedup.bloomDecontaminateWith(survivors, bh, words, 3, shinglesOpt = docShingles)
      case None => Dedup.bloomDecontaminate(survivors, bench, 3)
    }

  /** Near-dup pairs of the GATED corpus for the curate family.
    *
    * MinHash-LSH pair generation is purely PAIRWISE: a doc's shingle set,
    * signature and band hashes depend only on that doc, a candidate pair
    * only on its two band rows, and the exact-Jaccard verify only on the
    * two docs' shingle sets. Hence pairs(S) for any S ⊆ corpus equals
    * pairs(corpus) restricted to both endpoints in S — so a caller that
    * already computed (or session-cached) the whole-corpus pair table can
    * pass it in and the gated pair set is two cheap doc_id semi-joins
    * instead of a full shingle→signature→band→verify DAG re-derivation
    * (guide §2.4: remove the duplicated shuffles outright). The passed
    * frame must come from [[Dedup.minhashDupPairs]] with the same
    * (n=3, numHashes=32, bands=8) family and a threshold <= ours; the
    * jaccard re-filter below makes a lower-threshold table exact.
    * Restriction equivalence is asserted in CorpusSpec.
    */
  private def gatedPairs(gated: DataFrame, dupPairs: Option[DataFrame],
                         dedupThreshold: Double): DataFrame = dupPairs match {
    case None => Dedup.minhashDupPairs(gated, 3, 32, 8, dedupThreshold)
    case Some(p) =>
      val ids = gated.select(col("doc_id"))
      p.where(col("jaccard") >= dedupThreshold)
        .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
        .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
  }

  /** DSIR-targeted curation: [[curate]]'s quality-gate → near-dup
    * survivor → decontamination stages, with the mixture stage replaced
    * by importance resampling — [[TextStats.dsirSelect]] draws the `k`
    * most target-like survivors against a target-domain corpus instead
    * of applying per-language rates. This is DSIR's published role
    * (select pretraining data that matches a domain) composed at its
    * real place in the pipeline: AFTER cleaning, so the λ model is fit
    * on the clean pool it actually selects from. Stage order and
    * stitches are [[curate]]'s contract — every boundary a doc_id
    * equi-join, the DSIR λ model a 1024-row broadcast, selection one
    * TakeOrdered(k) — so the composition adds no new shuffle shapes.
    */
  def curateDsir(docs: DataFrame, bench: DataFrame, target: DataFrame,
                 k: Int = 100, minTokens: Int = 10,
                 dedupThreshold: Double = 0.5,
                 budget: Int = 512, shards: Int = 8,
                 dupPairs: Option[DataFrame] = None,
                 benchFilter: Option[(DataFrame, Array[Long])] = None,
                 docShingles: Option[DataFrame] = None): DataFrame = {
    val clean = cleanPool(docs, bench, minTokens, dedupThreshold,
      dupPairs, benchFilter, docShingles)
    val selected = clean.join(
      TextStats.dsirSelect(clean, target, k).select("doc_id"), Seq("doc_id"))
    packSequencesByCounts(selected.select(col("doc_id"), col("n_tokens")),
      budget, shards)
  }

  /** SemDeDup-style SEMANTIC dedup over the embedding table (Abbas et
    * al. 2023, arXiv:2303.09540), composed from the already-certified
    * stages the way [[curate]] composes its pipeline:
    *
    *   1. k-means clusters the embeddings ([[Similarity.kmeans]] —
    *      integer-quantized, bit-reproducible assignments)
    *   2. near-dup pairs restricted to SAME-CLUSTER candidates
    *      ([[Dedup.embeddingDupPairs]] with `assign` — cluster id ∧ LSH
    *      bucket blocking, exact-cosine verify)
    *   3. connected components over the pair graph, one survivor per
    *      component = min vec_id ([[Dedup.dedupClustersFromPairs]])
    *
    * Returns every vector with its k-means `cluster`, its semantic-dup
    * component `sem_cluster` (its own id when isolated) and the
    * survivor `keep` flag; `emb.join(result.where($"keep"), "vec_id")`
    * is the semantically-deduped corpus.
    *
    * Scale shape: the kmeans assignment is one narrow broadcast-centroid
    * pass per iteration; the pair self-join is bounded by
    * cluster∧bucket block sizes (choose k ≈ √N per the paper); CC runs
    * only over paired vectors. The assignment is localCheckpointed —
    * it feeds both the blocking join and the final output join, and
    * must not re-run the Lloyd's iterations.
    */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.4, k: Int = 8,
                    iters: Int = 3, bits: Int = 8, dim: Int = 64,
                    tables: Int = 4, seed: Long = 42L,
                    assignOpt: Option[DataFrame] = None): DataFrame = {
    // assignOpt: a precomputed [[Similarity.kmeans]](emb, k, iters) frame
    // (vec_id, cluster[, d2]) — callers that already ran the trainer (or
    // session-cache it) skip re-running the Lloyd's iterations here
    // (guide §2.4). Must be from the same (emb, k, iters) config;
    // assignments are bit-reproducible, so equality is exact.
    val assign = assignOpt match {
      case Some(a) => a.select(col("vec_id"), col("cluster"))
      case None => Similarity.kmeans(emb, k, iters)
        .select(col("vec_id"), col("cluster")).localCheckpoint()
    }
    val pairs = Dedup.embeddingDupPairs(
      emb, threshold, bits, dim, tables, seed, Some(assign))
    val cc = Dedup.dedupClustersFromPairs(
      emb.select(col("vec_id").as("doc_id")),
      pairs.select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
    assign.join(
        cc.select(col("doc_id").as("vec_id"),
          col("cluster_id").as("sem_cluster"), col("keep")),
        "vec_id")
      .select(col("vec_id"), col("cluster"), col("sem_cluster"), col("keep"))
  }

  /** Domain-mixture accounting: docs/tokens per (lang, source) plus each
    * cell's share of total tokens — the table a mixture-weight tuner
    * reads. One partial-agg shuffle to a tiny frame; the share window
    * runs on the aggregated cells, not the corpus.
    */
  def domainMix(docs: DataFrame): DataFrame = {
    val agg = docs
      .select(col("lang"), col("source"),
        size(TextStats.tokens(col("text"))).cast("long").as("nt"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    agg.withColumn("token_share",
      round(col("n_tokens") / sum("n_tokens").over(Window.partitionBy()), 6))
  }
}
