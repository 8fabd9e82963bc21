package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.functions.F
import graft.kg.Kg
import graft.nlp.{ParsedSent, Pipeline}
import graft.ops.{Dedup, Similarity, TextStats}
import graft.pack.{ModelPack, SynthPack}
import graft.runtime.SessionCache
import graft.sources.Docs

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** shared regex, identical semantics in Spark (Java regex) and DuckDB (RE2) */
  private val Tok = TextStats.TokRe

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Input-skew guard (guide §2.5 "one huge unsplittable file"): each
    * test-dir table is ONE small parquet file → one scan split, so the
    * expansion-heavy map work (regex tokenize, shingle/feature explode,
    * vector math) otherwise runs on a single core until the first
    * Exchange. Spread such scans to session parallelism with one tiny
    * Exchange of the RAW rows — the table is KB–MB scale; the expansion
    * happens after. Guarded to a no-op whenever the scan already carries
    * >= parallelism splits (the 100 TB case, files >> cores), so this
    * never down-partitions a real corpus; round-robin repartition is
    * deterministic (sort-before-repartition) and every consumer below is
    * row-local or order-independent.
    */
  private def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
  private def docsS(s: SparkSession, dir: String): DataFrame =
    spread(s, tbl(s, dir, "documents"))
  private def embS(s: SparkSession, dir: String): DataFrame =
    spread(s, tbl(s, dir, "embeddings"))

  // one broadcast pack per SparkSession (pinned model state for executors)
  private val packCache = new SessionCache[Unit, Broadcast[ModelPack]]
  def packBc(s: SparkSession): Broadcast[ModelPack] =
    packCache(s, ())(s.sparkContext.broadcast(SynthPack.build()))

  /** Parsed Russian corpus (full NLP inference) for a test dir — persisted
    * per (session, dir): 15 catalog queries consume it, and re-running the
    * full CNN/CRF/biaffine forward pass per query made Verify ~3× slower
    * than the work requires (round-3 VERDICT #4). MEMORY_AND_DISK so an
    * sf larger than executor memory spills instead of OOMing; eviction
    * follows the session (SessionCache drops stopped sessions' entries).
    */
  private val parsedCache = new SessionCache[String, Dataset[ParsedSent]]
  def parsed(s: SparkSession, dir: String): Dataset[ParsedSent] =
    // coalesced to the session's core count before persisting: the
    // generator's data-sized slices (156 at sf0.1) are right for the
    // graded scaling legs, but a CACHED frame re-read by ~20 catalog
    // queries pays per-task launch overhead on every downstream stage —
    // core-count-sized cached partitions cut that 5x with identical
    // values (parse output is partition-invariant, spec-asserted).
    // coalesce, not repartition: no exchange, and scale-adaptive by
    // construction (follows defaultParallelism, never a constant).
    parsedCache(s, dir)(
      Pipeline.parse(Docs.sentences(Docs.russianDocs(s, dir)), packBc(s))
        .coalesce(s.sparkContext.defaultParallelism)
        .persist(MEMORY_AND_DISK))

  /** Canonical triple table for a test dir, persisted per (session, dir)
    * like [[parsed]] one level up: a count() over the chain is cheap
    * (Catalyst prunes the string columns), but every analytics query that
    * USES triple values re-evaluates extraction + linking from the parsed
    * cache (~4.5 s at sf0.1 x 32 cores, measured) — 7 q_kg_* queries paid
    * it independently.
    */
  private val canonCache = new SessionCache[String, DataFrame]
  def canonicalTriples(s: SparkSession, dir: String): DataFrame =
    canonCache(s, dir)(
      Kg.linkCanonicalize(s, Kg.triples(parsed(s, dir))).persist(MEMORY_AND_DISK))

  /** Distinct double-hashed 3-token shingle table (doc_id,
    * shingle=xxhash64, mdh=md5-base-hash) of a test dir's documents,
    * persisted per (session, dir): the ONE tokenize+explode+distinct
    * corpus pass the whole shingle family reads — the MinHash-LSH fill
    * ([[minhashPairs]], mdh column), q_jaccard_pairs, q_decontaminate
    * and the curate composites' decontamination stage (xxhash64 column)
    * each paid an independent corpus regex pass for the same rows
    * (guide §2.4 / §1.2: don't compute the same thing four times). Both
    * hashes are computed row-locally BEFORE the distinct, so no shingle
    * string ever shuffles or persists (guide §2.2) — a string table
    * (formerly `shingles3`) that existed only to be hashed cost ~2.9 s
    * at sf0.1 x 32 where this 24-byte-row table costs ~1.3 s. At 100 TB
    * this IS the "materialize the shingle table" step every
    * dedup+decontamination campaign starts with.
    */
  private val shingleHashCache = new SessionCache[String, DataFrame]
  private def shingleTable3(s: SparkSession, dir: String): DataFrame =
    shingleHashCache(s, dir)(
      Dedup.shingleDoubleHashes(docsS(s, dir), ShingleN).persist(MEMORY_AND_DISK))
  // shingle length of [[shingleTable3]] and [[benchBloom97]], and the
  // MinHash-LSH config of [[minhashPairs]]: shared with the oracles'
  // shingle, minhash and decontamination chains
  private val ShingleN = 3
  private val MinhashSlots = 32
  private val MinhashBands = 8
  private val MinhashJaccard = 0.1

  /** (doc_id, shingle=xxhash64) view of [[shingleTable3]] for the
    * equality-only consumers — a column-pruned projection of the one
    * persisted table, not a second cache. */
  def shingleHashes3(s: SparkSession, dir: String): DataFrame =
    shingleTable3(s, dir).select(col("doc_id"), col("shingle"))

  /** MinHash-LSH verified dup pairs for a test dir's documents table,
    * persisted per (session, dir) like [[canonicalTriples]]: the LSH DAG
    * (shingle -> 32-slot signatures -> band join -> exact verify) costs
    * ~3.5 s at sf0.1 x 32 cores and both q_minhash_dups and
    * q_dedup_cluster (same params, same table) re-derived it in full.
    */
  private val dupPairsCache = new SessionCache[String, DataFrame]
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    dupPairsCache(s, dir)(
      Dedup.minhashDupPairsFromHashes(shingleTable3(s, dir), MinhashSlots, MinhashBands,
        MinhashJaccard)
        .persist(MEMORY_AND_DISK))

  /** Bench-slice (doc_id % 97 == 0) Bloom decontamination filter for a
    * test dir, built once per (session, dir): q_bloom_decontaminate,
    * q_curate and q_curate_dsir all decontaminate against the SAME bench
    * slice with n=3, and each call paid the bench shingle scan + driver
    * collect + bit-array build eagerly (~1 s each at sf0.1).
    */
  private val benchBloomCache = new SessionCache[String, (DataFrame, Array[Long])]
  def benchBloom97(s: SparkSession, dir: String): (DataFrame, Array[Long]) =
    benchBloomCache(s, dir)(
      Dedup.benchBloomBuild(tbl(s, dir, "documents").where(col("doc_id") % 97 === 0), ShingleN))

  /** k-means assignment for a test dir's embeddings table (k=8, iters=3),
    * persisted per (session, dir) like [[minhashPairs]]: the Lloyd's
    * trainer costs ~1 s at sf0.1 x 32 cores and both q_kmeans and
    * q_semdedup (same emb table, same config) re-derived it in full.
    * Assignments are integer-exact/bit-reproducible, so sharing is safe.
    */
  private val kmeansCache = new SessionCache[String, DataFrame]
  def kmeansAssign8(s: SparkSession, dir: String): DataFrame =
    kmeansCache(s, dir)(
      Similarity.kmeans(embS(s, dir), KmeansK, KmeansIters).persist(MEMORY_AND_DISK))
  // k-means config of [[kmeansAssign8]], shared with the q_kmeans and
  // q_semdedup oracles
  private val KmeansK = 8
  private val KmeansIters = 3

  /** Learned BPE merge table for a test dir's documents, cached per
    * (session, dir): the trainer runs eagerly (one driver argmax per
    * round) and returns a `rounds`-row LocalRelation, so the cached value
    * is free to reuse — q_bpe_merges, q_bpe_encode and q_pack_bpe all
    * consume the same table.
    */
  private val bpeMergesCache = new SessionCache[String, DataFrame]
  def bpeMerges6(s: SparkSession, dir: String): DataFrame =
    bpeMergesCache(s, dir)(TextStats.bpeMerges(docsS(s, dir), BpeRounds))
  // merge rounds of [[bpeMerges6]], shared with the oracles' bpeCtes chain
  private val BpeRounds = 6

  /** Integer bigram-LM score table (doc_id, n_grams, sum_mn) for a test
    * dir's documents, persisted per (session, dir): q_lm_perplexity and
    * q_ccnet_buckets are both pure tails over this one frame and each
    * re-built the full bigram LM (two corpus passes + two count shuffles)
    * independently (guide §2.4).
    */
  private val lmScoreCache = new SessionCache[String, DataFrame]
  def lmScore(s: SparkSession, dir: String): DataFrame =
    lmScoreCache(s, dir)(TextStats.lmScoreMicro(docsS(s, dir)).persist(MEMORY_AND_DISK))

  /** Learned-BPE word→pieces vocabulary under [[bpeMerges6]], cached per
    * (session, dir): the 6-merge fold over the distinct-word table was
    * re-derived by five consumers (q_bpe_encode, q_bpe_fertility,
    * q_pack_bpe, and the unigram trainer behind q_unigram_encode /
    * q_tok_compare). The fold is deterministic, so sharing is exact.
    */
  private val bpeVocabCache = new SessionCache[String, DataFrame]
  def bpeVocab6(s: SparkSession, dir: String): DataFrame =
    bpeVocabCache(s, dir)(TextStats.bpeVocab(docsS(s, dir), bpeMerges6(s, dir)))

  /** Unigram piece-score table over the BPE inventory (driver-local
    * LocalRelation after one counts job), cached per (session, dir):
    * q_unigram_encode and q_tok_compare each ran the trainer.
    */
  private val uniScoresCache = new SessionCache[String, DataFrame]
  def uniScores6(s: SparkSession, dir: String): DataFrame =
    uniScoresCache(s, dir)(TextStats.unigramScores(docsS(s, dir), bpeMerges6(s, dir),
      vocabOpt = Some(bpeVocab6(s, dir))))

  /** Distinct-word unigram Viterbi segmentation under [[uniScores6]],
    * persisted per (session, dir): the DP over every distinct word ran
    * twice (q_unigram_encode, q_tok_compare). Bit-reproducible (integer
    * centibit scores, total tie-break), so sharing is exact.
    */
  private val uniVocabCache = new SessionCache[String, DataFrame]
  def uniVocab6(s: SparkSession, dir: String): DataFrame =
    uniVocabCache(s, dir)(
      TextStats.unigramVocab(docsS(s, dir), uniScores6(s, dir)).persist(MEMORY_AND_DISK))

  /** ANN top-5 result frames (brute truth, LSH, IVF) for a test dir's
    * embeddings, persisted per (session, "dir|kind"): each is consumed by
    * its own catalog query AND by q_ann_recall with the same config.
    */
  private val annCache = new SessionCache[String, DataFrame]
  private def annCached(s: SparkSession, d: String, kind: String)
                       (search: (DataFrame, DataFrame) => DataFrame): DataFrame =
    annCache(s, s"$d|$kind") {
      val e = embS(s, d)
      search(e, e.where(col("vec_id") % 97 === 0)).persist(MEMORY_AND_DISK)
    }
  def annTopk5(s: SparkSession, d: String): DataFrame =
    annCached(s, d, "topk")(Similarity.bruteTopK(_, _, AnnK))
  def annLsh5(s: SparkSession, d: String): DataFrame =
    annCached(s, d, "lsh")(Similarity.annLsh(_, _, AnnK, LshBits, EmbDim, LshSeed))
  def annIvf5(s: SparkSession, d: String): DataFrame =
    annCached(s, d, "ivf")(Similarity.annIvf(_, _, AnnK, IvfCells, IvfProbe, EmbDim, IvfSeed))

  // seeded index configs of the similarity family: each is passed to the
  // builds and to the oracles that inline the same planes and centroids
  private val EmbDim = 64
  private val AnnK = 5
  private val LshBits = 8
  private val LshSeed = 42L
  private val IvfCells = 16
  private val IvfProbe = 4
  private val IvfSeed = 7L

  /** Flagship: the full KG-construction pipeline (sentenize -> batched
    * NER+morph+syntax inference -> dep-pattern triples -> entity linking ->
    * canonicalization) on the deterministic interleaved corpus.
    */
  def entry(spark: SparkSession): DataFrame =
    Kg.linkCanonicalize(spark, Kg.triples(parsed(spark, "/root/testdata/sf0.001")))

  /** One catalog query: its Spark build, its DuckDB oracle SQL and a
    * one-line note on the physical plan it should have. The oracle is
    * by-name: building the table builds no SQL; [[oracleSql]] does.
    */
  private[graft] final class Query(val build: (SparkSession, String) => DataFrame,
                                   sql: => String, val plan: String) {
    def oracle: String = sql
  }

  /** The query catalog: every query's name, build, oracle and plan note
    * are written once, here. A parameter both sides use is bound once in
    * its entry and passed to both.
    */
  private[graft] lazy val catalog: Map[String, Query] = Map(
    // ---- text analysis (SQL-checked) ----
    "q_tok_count" -> new Query((s, d) =>
      tbl(s, d, "documents").select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(Tok), lit(0))).cast("long").as("n_tokens")),
      s"SELECT doc_id, len(${toks("text")}) AS n_tokens FROM documents",
      "scan: column pruning to (doc_id, text); zero shuffle"),
    "q_quality" -> new Query((s, d) => TextStats.quality(tbl(s, d, "documents")), s"""
        SELECT doc_id,
          length(text) AS n_chars,
          len(${toks("text")}) AS n_tokens,
          round(len(list_filter(${toks("text")}, x -> x IN ('the','a','of','and','in','to'))) / greatest(len(${toks("text")}), 1), 6) AS stopword_ratio,
          round(len(list_filter(${toks("text")}, x -> regexp_full_match(x, '[\\p{L}]+'))) / greatest(len(${toks("text")}), 1), 6) AS alpha_ratio,
          round(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) / greatest(length(text), 1), 6) AS punct_ratio
        FROM documents""", "length/punct/stopword ratios: row-local projection, zero shuffle"),
    "q_langid" -> new Query((s, d) => TextStats.langId(tbl(s, d, "documents")), """
        SELECT doc_id,
          CASE WHEN length(regexp_replace(text, '[^а-яёА-ЯЁ]', '', 'g')) > length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) THEN 'ru'
               WHEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) > 0 THEN 'en'
               ELSE 'unk' END AS lang_pred
        FROM documents""", "char-trigram heuristic, row-local projection, zero shuffle"),
    "q_fp_norm" -> new Query((s, d) =>
      tbl(s, d, "documents").select(col("doc_id"),
        md5(array_join(TextStats.tokens(F.lower_simple(col("text"))), " ")).as("norm_fp")),
      s"SELECT doc_id, md5(array_to_string(${toks("lower(text)")}, ' ')) AS norm_fp FROM documents",
      "normalized-text fingerprint: pure codegen projection + agg, zero extra scan"),
    "q_fp_poly" -> new Query((s, d) =>
      tbl(s, d, "documents").select(col("doc_id"), F.poly_hash(col("text")).as("poly_fp")), """
        SELECT doc_id,
          (u - CASE WHEN u >= 9223372036854775808::HUGEINT THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS poly_fp
        FROM (
          SELECT doc_id, list_reduce(list_prepend(1125899906842597::HUGEINT,
              [unicode(c)::HUGEINT for c in string_split(text,'')]),
              (h, c) -> (h * 31 + c) % 18446744073709551616)::HUGEINT AS u
          FROM documents)""", "rolling polynomial hash via native poly_hash expression; row-local"),

    // ---- dedup family ----
    "q_dedup_exact" -> new Query((s, d) => Dedup.exact(tbl(s, d, "documents")), """
        SELECT md5(text) AS text_hash, min(doc_id) AS rep_doc_id, count(*) AS n_copies
        FROM documents GROUP BY 1""", "hash-aggregate on md5; two-phase (partial + final)"),
    "q_dup_spans" -> { val (k, minDocs) = (20, 2); new Query((s, d) =>
      Dedup.dupNgramSpans(docsS(s, d), k, minDocs), s"""${dupIslandCtes(k, minDocs)}
        SELECT doc_id, min(s) AS start_tok, max(e) AS end_tok,
               count(*) AS n_grams
        FROM isl GROUP BY doc_id, island""",
      "gram agg + hit join + per-doc island windows (suffix-style dup spans)") },
    // apply side of the dup-span detector: corpus rewritten with every
    // duplicated island removed (Lee et al. exact-substring dedup rewrite;
    // see Dedup.removeDupSpans)
    // mirrors Dedup.removeDupSpans: the q_dup_spans island chain, then a
    // per-token NOT-EXISTS range anti-join and an md5 over the ordered
    // kept stream (engine: concat_ws over the filtered array)
    "q_remove_dup_spans" -> { val (k, minDocs) = (20, 2); new Query((s, d) =>
      Dedup.removeDupSpans(docsS(s, d), k, minDocs), s"""${dupIslandCtes(k, minDocs)},
        sp AS MATERIALIZED (SELECT doc_id, min(s) AS s, max(e) AS e
              FROM isl GROUP BY doc_id, island),
        tok AS (SELECT doc_id, unnest(w) AS tkn, unnest(range(len(w))) AS i
                FROM t),
        kept AS (SELECT doc_id, i, tkn FROM tok
                 WHERE NOT EXISTS (SELECT 1 FROM sp
                   WHERE sp.doc_id = tok.doc_id
                     AND tok.i BETWEEN sp.s AND sp.e)),
        ka AS (SELECT doc_id, count(*) AS n_kept,
                 string_agg(tkn, ' ' ORDER BY i ASC) AS txt
               FROM kept GROUP BY 1)
        SELECT t.doc_id, len(w)::BIGINT AS n_tokens,
               (len(w) - coalesce(n_kept, 0))::BIGINT AS n_removed,
               md5(coalesce(txt, '')) AS clean_fp
        FROM t LEFT JOIN ka ON ka.doc_id = t.doc_id""",
      "dup islands collected per doc (bounded, disjoint) -> ONE doc_id left join -> row-local filter-with-index removal lambda") },
    "q_repetition" -> new Query((s, d) => TextStats.repetition(tbl(s, d, "documents")), s"""
        WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM documents),
        b AS (SELECT doc_id, tk,
              CASE WHEN len(tk) >= 2
                   THEN [tk[i] || ' ' || tk[i+1] FOR i IN generate_series(1, len(tk)-1)]
                   ELSE [] END AS bg FROM t)
        SELECT doc_id,
          round(1.0 - len(list_distinct(tk)) / greatest(len(tk), 1), 6) AS dup_word_ratio,
          round(coalesce(list_max([len(list_filter(bg, x -> x = g)) FOR g IN bg]), 0)
                / greatest(len(tk) - 1, 1), 6) AS top_bigram_ratio
        FROM b""", "row-local ratios, zero shuffle"),
    "q_pii_scrub" -> new Query((s, d) => {
      // the synthetic corpus carries no PII — plant a deterministic
      // contact line from doc_id (identical expression in the oracle SQL)
      // so every redaction class is actually exercised and hash-checked
      val id = col("doc_id").cast("string")
      val id2 = lpad((col("doc_id") % 100).cast("string"), 2, "0")
      val aug = concat(col("text"),
        lit(" Контакт: user"), id, lit("@mail.example.com, тел. +7 (9"),
        id2, lit(") 123-45-"), id2, lit(", сайт http://example.com/p/"), id,
        lit(" (ip 10.0."), (col("doc_id") % 256).cast("string"), lit(".1)"))
      TextStats.piiScrub(tbl(s, d, "documents").select(col("doc_id"), aug.as("text")))
    }, """
        WITH a AS (SELECT doc_id,
          text || ' Контакт: user' || doc_id || '@mail.example.com, тел. +7 (9' ||
          lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ') 123-45-' ||
          lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
          ', сайт http://example.com/p/' || doc_id ||
          ' (ip 10.0.' || (doc_id % 256) || '.1)' AS text FROM documents)
        SELECT doc_id,
          len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
          len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
          len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ips,
          len(regexp_extract_all(text, '\+\d[\d\-() ]{8,}\d')) AS n_phones,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
            'https?://[^\s]+', '<URL>', 'g'),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
            '\+\d[\d\-() ]{8,}\d', '<PHONE>', 'g') AS clean
        FROM a""", "pure codegen regex projection, zero shuffle"),
    "q_ngram_counts" -> { val minCount = 5; new Query((s, d) =>
      TextStats.ngramCounts(docsS(s, d), 2, minCount), bigramCountsSql(minCount),
      "explode + two-phase hash agg; token array materialized before the gram lambda") },
    // the 100 TB shuffle-diet shape (8-byte hash keys in the count
    // shuffle, survivors' text recovered in a second pass) certified
    // against the SAME oracle as the one-scan variant
    "q_ngram_counts_hashed" -> { val minCount = 5; new Query((s, d) =>
      TextStats.ngramCountsHashed(docsS(s, d), 2, minCount), bigramCountsSql(minCount),
      "8-byte-key count shuffle + ObjectHashAggregate text recovery (~4x shuffle cut)") },
    // CCNet-style quality signal: add-one bigram LM trained on the corpus,
    // every doc scored by perplexity under it (integer micro-nat contract
    // — see TextStats.lmPerplexity)
    // mirrors TextStats.lmPerplexity: per-bigram integer micro-nats
    // (floor(ln(p)*1e6 + 0.5)) summed exactly, transcendentals only at
    // the per-row and final-projection boundaries, same op order
    "q_lm_perplexity" -> new Query((s, d) =>
      TextStats.lmPerplexityFrom(lmScore(s, d)), s"""$bigramLmCtes
        SELECT doc_id, count(*) AS n_grams,
               round(-(sum(mn)::DOUBLE / (count(*) * 1000000.0)), 6) AS avg_neg_logp,
               round(exp(-(sum(mn)::DOUBLE / (count(*) * 1000000.0))), 6) AS perplexity
        FROM sc GROUP BY 1""", "bigram-LM joins + integer micro-nat agg (partition-order exact)"),
    // CCNet head/middle/tail terciles per language — value-based bucketing
    // over the integer pico-nat LM key, no per-language corpus sort
    // (see TextStats.ccnetBuckets)
    // mirrors TextStats.ccnetBuckets: the q_lm_perplexity integer chain
    // through sum_mn, the exact pico-nat key, and the ANSI ntile(3)
    // first-rank formula over the (lang, key) count table
    "q_ccnet_buckets" -> new Query((s, d) =>
      TextStats.ccnetBucketsFrom(lmScore(s, d), tbl(s, d, "documents")), s"""$bigramLmCtes,
        agg AS (SELECT doc_id, count(*) AS n_grams, sum(mn)::BIGINT AS sum_mn
                FROM sc GROUP BY 1),
        scored AS MATERIALIZED (SELECT a.doc_id, d.lang,
                 ((-sum_mn) * 1000000) // n_grams AS ppl_pico
               FROM agg a JOIN documents d USING (doc_id)),
        keys AS (SELECT lang, ppl_pico, count(*) AS c FROM scored GROUP BY 1, 2),
        kk AS (SELECT lang, ppl_pico, c,
                 sum(c) OVER (PARTITION BY lang ORDER BY ppl_pico
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(c) OVER (PARTITION BY lang) AS n FROM keys),
        tl AS (SELECT lang, ppl_pico,
                 CASE WHEN n // 3 = 0 THEN cum - c + 1
                      WHEN cum - c + 1 <= (n % 3) * (n // 3 + 1)
                        THEN (cum - c) // (n // 3 + 1) + 1
                      ELSE n % 3 + (cum - c - (n % 3) * (n // 3 + 1)) // (n // 3) + 1
                 END AS tile
               FROM kk)
        SELECT s.doc_id, s.lang, s.ppl_pico,
               CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                 ELSE 'tail' END AS bucket
        FROM scored s JOIN tl USING (lang, ppl_pico)""",
      "LM-score integer key -> (lang,key) COUNT table -> cumulative window over the SMALL key table (no per-language corpus sort) -> (lang,key) equi-join assigns buckets"),
    // keyword extraction: per-doc top-3 TF-IDF terms (integer micro-nat
    // idf — see TextStats.tfidfTop)
    // mirrors TextStats.tfidfTop: smoothed idf in integer micro-nats,
    // integer score tf*idf_micro, top-3 per doc, term-ascending ties
    "q_tfidf_top" -> { val topK = 3; new Query((s, d) =>
      TextStats.tfidfTop(docsS(s, d), topK), s"""
        WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS w FROM documents),
        tfc AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM
               (SELECT doc_id, unnest(w) AS term FROM t) x GROUP BY 1, 2),
        dfc AS MATERIALIZED (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        sc AS (SELECT doc_id, term, tf, df,
                 tf * floor(ln((1 + n_docs)::DOUBLE / (1 + df)::DOUBLE)
                            * 1000000 + 0.5)::BIGINT AS score_micro
               FROM tfc JOIN dfc USING (term) CROSS JOIN nd)
        SELECT doc_id, rk, term, tf, df, score_micro FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY score_micro DESC, term ASC) AS rk FROM sc) r
        WHERE rk <= $topK""",
      "tf x df equi-join (term-keyed, vocab NOT assumed broadcastable) + per-doc window top-k") },
    // collocation mining: corpus bigram PMI, count floor 5
    // mirrors TextStats.pmiCollocations: integer micro-nat PMI over
    // corpus bigrams with count floor 5
    "q_pmi_colloc" -> { val minCount = 5; new Query((s, d) =>
      TextStats.pmiCollocations(tbl(s, d, "documents"), minCount), s"""
        WITH t AS (SELECT ${toks("lower(text)")} AS w FROM documents),
        uni AS MATERIALIZED (SELECT w1, count(*) AS c FROM
               (SELECT unnest(w) AS w1 FROM t) x GROUP BY 1),
        big AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM
               (SELECT w[i] AS w1, w[i+1] AS w2
                FROM (SELECT w, unnest(range(1, len(w))) AS i FROM t) y) z
               GROUP BY 1, 2),
        tot AS (SELECT (SELECT sum(c) FROM uni) AS t,
                       (SELECT sum(c12) FROM big) AS b)
        SELECT g.w1, g.w2, g.c12, u1.c AS c1, u2.c AS c2,
               floor(ln((g.c12::DOUBLE * tot.t * tot.t) /
                        (tot.b::DOUBLE * u1.c * u2.c)) * 1000000 + 0.5)::BIGINT AS pmi_micro
        FROM big g JOIN uni u1 ON u1.w1 = g.w1
        JOIN uni u2 ON u2.w1 = g.w2
        CROSS JOIN tot
        WHERE g.c12 >= $minCount""",
      "count floor BEFORE unigram joins kills 99% of join volume; broadcast totals") },
    // tokenizer training: first 6 BPE merges learned from the corpus
    // mirrors TextStats.bpeMerges: adjacent-pair counts weighted by
    // word frequency (overlapping positions count), argmax with
    // (cnt desc, l, r) tie-break, left-to-right NON-overlapping greedy
    // rewrite via a singleton-list fold
    "q_bpe_merges" -> new Query((s, d) => bpeMerges6(s, d), s"""
        WITH ${bpeCtes(BpeRounds)}
        SELECT round, "left", "right", cnt FROM (${bpeOuts(BpeRounds)}) m""",
      "distributed pair counts + fold-based greedy rewrite; one-row argmax per round (inherent to BPE)"),
    // tokenizer APPLY: encode the corpus with the learned merge table —
    // one row per subword piece with a deterministic dense piece id
    // mirrors TextStats.bpeEncode: wN (the trainer chain's final word
    // table, word string kept through the fold) IS the applied vocab;
    // corpus words join it, pieces explode with 0-based seq, piece ids
    // are row_number over the sorted distinct-piece set
    "q_bpe_encode" -> new Query((s, d) =>
      TextStats.bpeEncode(docsS(s, d), bpeMerges6(s, d),
        vocabOpt = Some(bpeVocab6(s, d))), s"""
        WITH ${bpeCtes(BpeRounds)},
        cw AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
               FROM (SELECT doc_id, ${toks("lower(text)")} AS tk FROM documents) d),
        corpus AS (SELECT doc_id, (i - 1)::BIGINT AS pos, tk[i] AS w FROM cw),
        wp AS (SELECT c.doc_id, c.pos, v.syms FROM corpus c JOIN w$BpeRounds v USING (w)),
        pe AS (SELECT doc_id, pos, syms,
                      unnest(generate_series(1, len(syms))) AS j FROM wp),
        px AS (SELECT doc_id, pos, (j - 1)::BIGINT AS seq, syms[j] AS piece FROM pe),
        ids AS (SELECT piece, row_number() OVER (ORDER BY piece) AS piece_id
                FROM (SELECT DISTINCT unnest(syms) AS piece FROM w$BpeRounds) q)
        SELECT doc_id, pos, seq, piece, piece_id FROM px JOIN ids USING (piece)""",
      "merge table applied over DISTINCT words (one projection per merge); corpus pays a single word-keyed join; piece-id table O(alphabet+rounds)"),
    // sequence packing costed in REAL learned-BPE pieces (the budget a
    // training run actually spends), not regex words
    // mirrors Corpus.packBpe: per-word piece counts off the applied
    // vocab, summed per doc, then the packSequences window rule
    "q_pack_bpe" -> { val (budget, shards) = (512, 8); new Query((s, d) =>
      ops.Corpus.packBpe(docsS(s, d), bpeMerges6(s, d), budget, shards,
        vocabOpt = Some(bpeVocab6(s, d))), s"""
        WITH ${bpeCtes(BpeRounds)},
        ws AS (SELECT w, len(syms)::BIGINT AS k FROM w$BpeRounds),
        cw AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
               FROM (SELECT doc_id, ${toks("lower(text)")} AS tk FROM documents) d),
        corpus AS (SELECT doc_id, tk[i] AS w FROM cw),
        counts AS (SELECT doc_id, sum(k)::BIGINT AS n_tokens
                   FROM corpus JOIN ws USING (w) GROUP BY 1),
        t AS (SELECT doc_id, doc_id % $shards AS shard, n_tokens FROM counts),
        c AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM t)
        SELECT doc_id, shard, cast(cum_before // $budget AS BIGINT) AS pack_id, n_tokens FROM c""",
      "packing budget costed in real BPE pieces via size(syms) projection; no piece explode at corpus scale") },
    // unigram-LM Viterbi re-encode over the BPE piece inventory
    // (SentencePiece-style; integer centibit scores, see
    // TextStats.unigramScores/unigramEncodeWith)
    // mirrors TextStats.bpeFertility: same applied-vocab join, integer
    // ppm floor divisions
    // mirrors TextStats.unigramScores + unigramEncodeWith exactly:
    // integer fixed-point log2 scores (fx), per-position best by
    // (vocab-before-unk, score DESC, np ASC, j ASC), path via a
    // recursive backpointer walk. Lmax/P = 12 cover the corpus (max
    // token length 8); wider j-branches probe pieces longer than any
    // vocab entry and match nothing, so they are inert.
    "q_unigram_encode" -> new Query((s, d) =>
      TextStats.unigramEncodeWith(docsS(s, d), uniScores6(s, d),
        uniVocabOpt = Some(uniVocab6(s, d))), s"""
        WITH RECURSIVE ${bpeCtes(BpeRounds)},
        $unigramDpCtes,
        upth(w, pos, seq_rev, piece) AS (
          SELECT w, length(w), -1, CAST(NULL AS VARCHAR) FROM wrd
          UNION ALL
          SELECT p.w, u.j, p.seq_rev + 1,
                 substring(p.w, u.j + 1, p.pos - u.j)
          FROM upth p JOIN uall u ON u.w = p.w AND u.i = p.pos
          WHERE p.pos > 0),
        upc AS (SELECT t.w, t.piece,
              CAST(f.np - 1 - t.seq_rev AS BIGINT) AS seq
              FROM upth t JOIN uf f USING (w) WHERE t.piece IS NOT NULL),
        ucorp AS (SELECT doc_id, CAST(gs - 1 AS BIGINT) AS pos, tk[gs] AS w
              FROM (SELECT doc_id, tk,
                      unnest(generate_series(1, len(tk))) AS gs
                    FROM (SELECT doc_id, ${toks("lower(text)")} AS tk
                          FROM documents) t0) t1)
        SELECT c.doc_id, c.pos, p.seq, p.piece, f.score,
               CAST(f.np AS BIGINT) AS n_pieces
        FROM ucorp c JOIN upc p ON p.w = c.w JOIN uf f ON f.w = c.w""",
      "Viterbi DP once per DISTINCT word (pinned broadcast score table, the inference shape); corpus pays one word-keyed join like bpe_encode"),
    // BPE vs unigram fertility per language (see TextStats.tokenizerCompare)
    // BPE vs unigram fertility per language over the SAME pieces;
    // both sides count off the distinct-word vocab tables
    "q_tok_compare" -> new Query((s, d) =>
      TextStats.tokenizerCompare(docsS(s, d), bpeMerges6(s, d),
        vocabOpt = Some(bpeVocab6(s, d)),
        uniVocabOpt = Some(uniVocab6(s, d))), s"""
        WITH RECURSIVE ${bpeCtes(BpeRounds)},
        $unigramDpCtes,
        tws AS (SELECT w, len(syms)::BIGINT AS k FROM w$BpeRounds),
        tcw AS (SELECT lang, tk, unnest(generate_series(1, len(tk))) AS i
              FROM (SELECT lang, ${toks("lower(text)")} AS tk
                    FROM documents) d),
        tcorp AS (SELECT lang, tk[i] AS w FROM tcw),
        tbp AS (SELECT lang, (sum(k)::BIGINT * 1000000) // count(*)
                  AS bpe_ppw_ppm
              FROM tcorp JOIN tws USING (w) GROUP BY 1),
        tup AS (SELECT lang, (sum(f.np)::BIGINT * 1000000) // count(*)
                  AS uni_ppw_ppm
              FROM tcorp JOIN uf f USING (w) GROUP BY 1)
        SELECT tbp.lang, bpe_ppw_ppm, uni_ppw_ppm,
               (uni_ppw_ppm - bpe_ppw_ppm) AS delta_ppm
        FROM tbp JOIN tup USING (lang)""",
      "both fertilities read n_pieces off distinct-word vocab tables (no corpus piece explode); per-lang two-phase aggs + one lang join"),
    // tokenizer fertility per language under the learned merges (integer
    // ppm ratios — see TextStats.bpeFertility)
    "q_bpe_fertility" -> new Query((s, d) =>
      TextStats.bpeFertility(docsS(s, d), bpeMerges6(s, d),
        vocabOpt = Some(bpeVocab6(s, d))), s"""
        WITH ${bpeCtes(BpeRounds)},
        ws AS (SELECT w, len(syms)::BIGINT AS k, len(w)::BIGINT AS chars FROM w$BpeRounds),
        cw AS (SELECT lang, tk, unnest(generate_series(1, len(tk))) AS i
               FROM (SELECT lang, ${toks("lower(text)")} AS tk FROM documents) d),
        corpus AS (SELECT lang, tk[i] AS w FROM cw),
        agg AS (SELECT lang, count(*) AS n_words, sum(k)::BIGINT AS n_pieces,
                       sum(chars)::BIGINT AS n_chars
                FROM corpus JOIN ws USING (w) GROUP BY 1)
        SELECT lang, n_words, n_pieces, n_chars,
               (n_pieces * 1000000) // n_words AS pieces_per_word_ppm,
               (n_chars * 1000000) // n_pieces AS chars_per_piece_ppm
        FROM agg""",
      "same single word-keyed vocab join as encode (pieces never exploded — only size(syms)+length travel); per-lang two-phase agg; integer ppm ratios"),
    // deterministic HLL distinct-token sketch (register-max merge —
    // exactly checkable; see TextStats.hllTokenDistinct)
    // mirrors TextStats.hllTokenDistinct: same poly_hash (unsigned fold
    // via HUGEINT, the q_kg_walks twin), same integer register math;
    // only the final division and the linear-counting ln are floats
    // (round-6 absorbs their <=1-ulp spread)
    "q_hll_distinct" -> new Query((s, d) =>
      TextStats.hllTokenDistinct(tbl(s, d, "documents")), {
        val u = OracleSql.polyHashSql("w")
        s"""
        WITH tok AS (SELECT lang, unnest(${toks("lower(text)")}) AS w FROM documents),
        hh0 AS (SELECT lang, $u AS u0 FROM tok),
        -- staged: mixSql textually inlines its argument ~32x, so it gets
        -- the COLUMN u0, never the list_reduce expression (the round-3
        -- oracle-blowup lesson)
        hh AS (SELECT lang, (${OracleSql.mixSql("u0")})::HUGEINT AS u FROM hh0),
        rg AS (SELECT lang, (u % 64)::BIGINT AS b,
                 CASE WHEN (u // 64) = 0 THEN 59
                      ELSE 59 - length(bin((u // 64)::BIGINT)) END AS rho
               FROM hh),
        mx AS (SELECT lang, b, max(rho) AS r FROM rg GROUP BY 1, 2),
        per AS (SELECT lang, 64 - count(*) AS v_zero,
                  (sum(1::BIGINT << (40 - least(r, 40)))
                   + (64 - count(*)) * (1::BIGINT << 40))::BIGINT AS s_scaled
                FROM mx GROUP BY 1),
        ex AS (SELECT lang, count(DISTINCT w) AS n_exact FROM tok GROUP BY 1)
        SELECT lang, n_exact, v_zero, s_scaled,
               round(CASE WHEN ${TextStats.HllC} / s_scaled::DOUBLE <= 160.0
                               AND v_zero > 0
                          THEN 64.0 * ln(64.0 / v_zero)
                          ELSE ${TextStats.HllC} / s_scaled::DOUBLE END, 6) AS hll_est
        FROM per JOIN ex USING (lang)"""
      }, "mix64 registers, lang x 64 sketch shuffle; order/retry independent"),
    // Count-Min heavy hitters (register-sum merge — exactly checkable;
    // the hot-entity/salting-hint sketch; see TextStats.cmsTopK)
    // mirrors TextStats.cmsTopK: 4 suffix-keyed hash rows
    // (w || chr(1) || i — the q_kg_walks composite-key twin pattern),
    // power-of-two width so HUGEINT % 1024 equals the engine's signed
    // & 1023; registers are plain counts, estimate = min across rows —
    // all integers, hash-checkable
    "q_cms_topk" -> new Query((s, d) => TextStats.cmsTopK(tbl(s, d, "documents")), {
        def u(i: Int) = OracleSql.polyHashSql(s"w || chr(1) || '$i'")
        val mCtes = (0 until TextStats.CmsDepth).map { i =>
          s"""u$i AS (SELECT w, ${u(i)} AS u0 FROM tok),
        m$i AS MATERIALIZED (SELECT w,
          ((${OracleSql.mixSql("u0")})::HUGEINT % ${TextStats.CmsWidth})::BIGINT AS j
          FROM u$i)"""
        }.mkString(",\n        ")
        val regSel = (0 until TextStats.CmsDepth).map(i =>
          s"SELECT $i AS i, j, count(*) AS cnt FROM m$i GROUP BY 2")
          .mkString(" UNION ALL ")
        val candSel = (0 until TextStats.CmsDepth).map(i =>
          s"SELECT DISTINCT $i AS i, w, j FROM m$i").mkString(" UNION ALL ")
        s"""
        WITH tok AS (SELECT unnest(${toks("lower(text)")}) AS w FROM documents),
        $mCtes,
        regs AS MATERIALIZED ($regSel),
        cand AS ($candSel),
        est AS (SELECT c.w, min(r.cnt) AS est FROM cand c
                JOIN regs r USING (i, j) GROUP BY 1),
        ex AS (SELECT w, count(*) AS n_exact FROM tok GROUP BY 1)
        SELECT w, n_exact, est FROM est JOIN ex USING (w)
        ORDER BY est DESC, w ASC LIMIT 30"""
      },
      "Count-Min registers: constant 4096-row shuffle + broadcast register join; n_exact is test-scale-only inspection"),
    // DSIR importance resampling (Xie et al. 2023): target = the
    // doc_id%23 in-domain slice, raw = the rest; Gumbel-top-k draw of
    // the 20 most target-like-weighted docs (see TextStats.dsirSelect)
    // mirrors TextStats.dsirLogWeights/dsirSelect: hashed unigram +
    // bigram features (the poly_hash→mix64 column-staged twin), add-one
    // smoothed micro-nat bucket log-ratios over the FULL 1024-bucket
    // domain, integer per-doc sums, md5-ppm deterministic Gumbel-top-k
    "q_dsir" -> { val k = 20; new Query((s, d) => {
      val docs = tbl(s, d, "documents")
      TextStats.dsirSelect(docs.where(col("doc_id") % 23 =!= 0),
        docs.where(col("doc_id") % 23 === 0), k)
    }, {
        val u = OracleSql.polyHashSql("feat")
        val m = TextStats.DsirBuckets
        s"""
        WITH tk AS (SELECT doc_id, ${toks("lower(text)")} AS toks FROM documents),
        ft AS (SELECT doc_id, unnest(toks) AS feat FROM tk
               UNION ALL
               SELECT doc_id, toks[i] || ' ' || toks[i+1] AS feat
               FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tk) x),
        u0t AS (SELECT doc_id, $u AS u0 FROM ft),
        hb AS MATERIALIZED (SELECT doc_id,
               ((${OracleSql.mixSql("u0")})::HUGEINT % $m)::BIGINT AS b FROM u0t),
        tc AS (SELECT b, count(*) AS ctn FROM hb WHERE doc_id % 23 = 0 GROUP BY 1),
        rc AS (SELECT b, count(*) AS crn FROM hb WHERE doc_id % 23 <> 0 GROUP BY 1),
        tot AS (SELECT (SELECT sum(ctn) FROM tc) AS ttot,
                       (SELECT sum(crn) FROM rc) AS rtot),
        lam AS (SELECT g.b,
                 (floor(ln((coalesce(ctn, 0) + 1)::DOUBLE / (ttot + $m)::DOUBLE) * 1e6 + 0.5)
                - floor(ln((coalesce(crn, 0) + 1)::DOUBLE / (rtot + $m)::DOUBLE) * 1e6 + 0.5))::BIGINT AS lam
                FROM (SELECT unnest(generate_series(0, ${m - 1})) AS b) g
                LEFT JOIN tc ON g.b = tc.b LEFT JOIN rc ON g.b = rc.b CROSS JOIN tot),
        w AS (SELECT doc_id, count(*) AS n_feats, sum(lam)::BIGINT AS logw_micro
              FROM hb JOIN lam USING (b) WHERE doc_id % 23 <> 0 GROUP BY 1),
        gk AS (SELECT doc_id, n_feats, logw_micro,
                 floor(-ln(-ln(((('0x' || substring(md5(cast(doc_id AS varchar)), 1, 15))::BIGINT
                   % 1000000)::DOUBLE + 0.5) / 1e6)) * 1e6 + 0.5)::BIGINT AS gumbel_micro
               FROM w)
        SELECT doc_id, n_feats, logw_micro, gumbel_micro,
               (logw_micro + gumbel_micro) AS sel_key
        FROM gk ORDER BY sel_key DESC, doc_id ASC LIMIT $k"""
      },
      "DSIR: 1024-bucket broadcast lambda table, per-doc integer micro-nat sums, TakeOrdered Gumbel-top-k") },
    // GPT-3/CCNet-style quality classifier: NB token log-odds trained on
    // the doc_id%11 in-domain slice vs the rest, every doc scored+labeled
    // (integer micro-nat contract — see TextStats.nbQualityScores)
    // mirrors TextStats.nbQualityScores: the two per-token log terms and
    // the prior each floored to integer micro-nats BEFORE summing, same
    // add-one smoothing over the shared pos∪neg vocab, same coalesce(·,0)
    // back-off, ties labeled neg
    "q_nb_quality" -> new Query((s, d) => {
      val docs = tbl(s, d, "documents")
      TextStats.nbQualityScores(docs.where(col("doc_id") % 11 === 0),
        docs.where(col("doc_id") % 11 =!= 0), docs)
    }, s"""
        WITH st AS (SELECT doc_id, unnest(${toks("lower(text)")}) AS w FROM documents),
        cp AS MATERIALIZED (SELECT w, count(*) AS cp FROM st WHERE doc_id % 11 = 0 GROUP BY 1),
        cn AS MATERIALIZED (SELECT w, count(*) AS cn FROM st WHERE doc_id % 11 <> 0 GROUP BY 1),
        cc AS MATERIALIZED (SELECT coalesce(cp.w, cn.w) AS w,
               coalesce(cp, 0)::BIGINT AS cp, coalesce(cn, 0)::BIGINT AS cn
               FROM cp FULL JOIN cn ON cp.w = cn.w),
        tot AS (SELECT sum(cp)::BIGINT AS np, sum(cn)::BIGINT AS nn,
                       count(*)::BIGINT AS v FROM cc),
        pri AS (SELECT floor(ln(
                 (SELECT count(*) FROM documents WHERE doc_id % 11 = 0)::DOUBLE /
                 (SELECT count(*) FROM documents WHERE doc_id % 11 <> 0)::DOUBLE)
                 * 1000000 + 0.5)::BIGINT AS prior_micro),
        sc AS (SELECT doc_id,
                 floor(ln((coalesce(cp, 0) + 1)::DOUBLE / (np + v)::DOUBLE)
                       * 1000000 + 0.5)::BIGINT -
                 floor(ln((coalesce(cn, 0) + 1)::DOUBLE / (nn + v)::DOUBLE)
                       * 1000000 + 0.5)::BIGINT AS llr
               FROM st LEFT JOIN cc USING (w) CROSS JOIN tot),
        agg AS (SELECT doc_id, count(*) AS n_toks,
                  (sum(llr)::BIGINT + (SELECT prior_micro FROM pri)) AS score_micro
                FROM sc GROUP BY 1)
        SELECT doc_id, n_toks, score_micro,
               CASE WHEN score_micro > 0 THEN 'pos' ELSE 'neg' END AS label
        FROM agg""",
      "NB quality classifier: two token-count aggs full-outer-merged, scoring stream left-joins the llr table (token-keyed shuffle, vocab NOT assumed broadcastable), broadcast single-row totals/prior; integer micro-nat sums"),
    // word2vec skip-gram co-occurrence counts, symmetric window 2,
    // min-count 5 — the SGNS/GloVe input matrix (see TextStats.skipgramPairs)
    // mirrors TextStats.skipgramPairs: symmetric window 2, both
    // directions per occurrence, min-count 5
    "q_skipgram" -> { val (window, minCount) = (2, 5); new Query((s, d) =>
      TextStats.skipgramPairs(docsS(s, d), window, minCount), s"""
        WITH t AS (SELECT ${toks("lower(text)")} AS w FROM documents),
        sh AS (SELECT w, dd, unnest(range(1, len(w) - dd + 1)) AS i
               FROM t CROSS JOIN (SELECT unnest(range(1, ${window + 1})) AS dd)
               WHERE len(w) > dd),
        p AS (SELECT w[i] AS center, w[i + dd] AS context FROM sh
              UNION ALL
              SELECT w[i + dd] AS center, w[i] AS context FROM sh)
        SELECT center, context, count(*) AS n FROM p
        GROUP BY 1, 2 HAVING count(*) >= $minCount""",
      "skip-gram pairs via row-local window lambda (NO positional self-join); only shuffle is the (center,context) two-phase count agg") },
    // per-source KL(domain ‖ corpus) over unigrams — the mixture-weighting
    // signal (integer micro-nat contract — see TextStats.domainKl)
    // mirrors TextStats.domainKl: per-(domain,token) integer micro-nat
    // log terms weighted by the integer count, divided only at the end
    "q_domain_kl" -> new Query((s, d) => TextStats.domainKl(tbl(s, d, "documents")), s"""
        WITH t AS (SELECT source AS domain, unnest(${toks("lower(text)")}) AS w
                   FROM documents),
        cs AS MATERIALIZED (SELECT domain, w, count(*) AS c_s FROM t GROUP BY 1, 2),
        cc AS MATERIALIZED (SELECT w, sum(c_s)::BIGINT AS c_c FROM cs GROUP BY 1),
        ns AS (SELECT domain, sum(c_s)::BIGINT AS n_s FROM cs GROUP BY 1),
        nc AS (SELECT sum(c_c)::BIGINT AS n_c FROM cc),
        term AS (SELECT domain,
                   c_s * (floor(ln(c_s::DOUBLE / n_s::DOUBLE) * 1000000 + 0.5)::BIGINT -
                          floor(ln(c_c::DOUBLE / n_c::DOUBLE) * 1000000 + 0.5)::BIGINT) AS term
                 FROM cs JOIN cc USING (w) JOIN ns USING (domain) CROSS JOIN nc),
        agg AS (SELECT domain, sum(term)::BIGINT AS kl_micro_sum FROM term GROUP BY 1)
        SELECT domain, n_s AS n_tokens, kl_micro_sum,
               round(kl_micro_sum::DOUBLE / (n_s * 1000000.0), 6) AS kl_nats
        FROM agg JOIN ns USING (domain)""",
      "per-domain KL: corpus counts REAGGREGATE the (domain,token) table (no second scan); token-keyed join + broadcast domain totals; integer micro-nat terms"),
    "q_bucketed_join" -> new Query((s, d) => ops.Bucketed.ordersPerSegment(s, d), """
        SELECT c_mktsegment, count(*) AS n_orders,
               count(DISTINCT c_custkey) AS n_customers,
               max(o_totalprice) AS max_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1""",
      "bucketed tables: at sf0.01 the dim side is broadcast (zero shuffle on the fact side); with broadcast disabled the buckets co-locate a ZERO-Exchange SortMergeJoin (SparkSpec 'bucketed tables' case pins that plan)"),
    "q_decontaminate" -> new Query((s, d) => {
      // benchmark slice = every 97th doc; train = the rest (3-gram rule
      // at fixture scale; 13-gram at web scale). Both sides are doc_id
      // slices of the SAME corpus, so they derive from the session-cached
      // shingle table with a filter + xxhash64 projection instead of two
      // more tokenization passes (result-identity: decontaminateHashed).
      val sh = shingleHashes3(s, d)
      Dedup.decontaminateHashed(sh.where(col("doc_id") % 97 =!= 0),
        sh.where(col("doc_id") % 97 === 0))
    }, decontSql, "broadcast shingle collision join against the eval-set dictionary"),
    // Bloom variant is RESULT-identical (no false negatives + exact
    // verify join) — the oracle is the same exact-decontamination SQL
    "q_bloom_decontaminate" -> new Query((s, d) => {
      // same split/result as q_decontaminate; the Bloom pre-filter moves
      // the corpus-side filtering below the distinct's Exchange (exactness
      // guaranteed by no-false-negatives + the trailing exact semi-join);
      // the bench filter itself is the session-cached build
      val docs = docsS(s, d)
      val (bh, words) = benchBloom97(s, d)
      Dedup.bloomDecontaminateWith(docs.where(col("doc_id") % 97 =!= 0),
        bh, words, ShingleN)
    }, decontSql,
      "Bloom k-probe pre-filter inside codegen on the UN-distincted shingle stream: the distinct's Exchange shrinks from corpus-sized to hit-sized; trailing broadcast semi-join strips false positives (result-identical to q_decontaminate)"),
    // FUZZY decontamination: train docs that are MinHash near-dups of a
    // bench doc (catches paraphrased leakage the n-gram rule misses);
    // per-doc report, left_anti on doc_id is the apply side. Bench slice
    // is doc_id % 89 here (not the exact-decontamination %97): the
    // sf0.01 fixture's near-dup pairs never straddle the %97 split, so
    // that gate would pass on an empty frame — %89 has 3 cross-split
    // near-dup pairs, making the oracle row-bearing.
    // fuzzy variant: signatures are row-local, so the per-side chains
    // the engine runs equal one whole-table chain with the train×bench
    // split applied at the candidate join
    "q_fuzzy_decontaminate" -> new Query((s, d) =>
      // derived from the session-cached whole-corpus pair table — the
      // %89 train/bench slices are disjoint, so the cross-pair set is
      // the cached pairs with one endpoint per slice (both orientations);
      // result-identical to the from-scratch minhashCrossPairs form
      // (DedupSpec) and spares a second full LSH DAG per catalog pass
      Dedup.fuzzyDecontaminationReportFromPairs(minhashPairs(s, d),
        t => t % 89 =!= 0, b => b % 89 === 0, MinhashJaccard), s"""
        WITH ${minhashPairsCtesFrom("documents",
          "a.doc_id % 89 <> 0 AND b.doc_id % 89 = 0")}
        SELECT doc_a AS doc_id, count(*) AS n_bench_dups,
               max(jaccard) AS max_jaccard
        FROM pairs GROUP BY 1""",
      "cross-table band equi-join (train x bench signatures); bench side tiny at scale -> AQE broadcast; exact-jaccard verify inside candidates"),
    // same (documents, n=3) shingle family as the MinHash fill — read
    // the session-cached table instead of a fourth corpus regex pass
    "q_jaccard_pairs" -> { val (threshold, maxFreq) = (0.1, 1000L); new Query((s, d) =>
      Dedup.ngramJaccardPairs(tbl(s, d, "documents"), ShingleN, threshold, maxFreq,
        shinglesOpt = Some(shingleHashes3(s, d))), s"""
        WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM documents),
        g AS (SELECT doc_id, tk, unnest(generate_series(0, greatest(len(tk)-$ShingleN, 0))) AS gs FROM t),
        sh AS (SELECT DISTINCT doc_id, array_to_string(tk[gs+1:gs+$ShingleN], ' ') AS shingle FROM g),
        rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= $maxFreq),
        shf AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b, round(i / (sa.sz + sb.sz - i), 6) AS jaccard
        FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        WHERE round(i / (sa.sz + sb.sz - i), 6) >= $threshold""",
      "shingle-blocked self-join; no BNLJ") },
    "q_minhash_dups" -> new Query((s, d) =>
      minhashPairs(s, d)
        .select(col("doc_a"), col("doc_b"), col("jaccard")), s"""
        WITH $minhashPairsCtes
        SELECT doc_a, doc_b, jaccard FROM pairs""",
      "wide-agg signatures, band equi-join, exact verify inside bands"),
    // FNV-1a over UTF-16 units == list_reduce over codepoints (corpus is
    // BMP-only, asserted by charset probe); HUGEINT emulates u64 wrap
    "q_simhash" -> new Query((s, d) => Dedup.simhash(tbl(s, d, "documents")), s"""
        WITH th AS (
          SELECT doc_id, list_reduce(list_prepend(14695981039346656037::HUGEINT,
              [unicode(c)::HUGEINT for c in string_split(tok,'')]),
              (h, c) -> ((xor(h::UBIGINT, c::UBIGINT))::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT AS h
          FROM (SELECT doc_id, unnest(${toks("lower(text)")}) AS tok FROM documents)),
        bits AS (
          SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM th, (SELECT unnest(generate_series(0, 63)) AS b) GROUP BY 1, 2),
        sh AS (
          SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::UBIGINT << b)::HUGEINT ELSE 0::HUGEINT END) AS u
          FROM bits GROUP BY 1)
        SELECT d.doc_id,
          coalesce((u - CASE WHEN u >= 9223372036854775808::HUGEINT THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT, 0) AS simhash
        FROM documents d LEFT JOIN sh ON sh.doc_id = d.doc_id""",
      "64-bit simhash via native expression + hamming-band self-join"),
    "q_embed_dups" -> { val (threshold, planeSets) = (0.4, 4); new Query((s, d) =>
      Dedup.embeddingDupPairs(tbl(s, d, "embeddings"), threshold, LshBits, EmbDim, planeSets,
        LshSeed), {
        // same multi-table LSH blocking as Dedup.embeddingDupPairs: pairs
        // sharing a bucket in ANY of 4 plane sets, exact-cosine verified
        val tables = (0 until planeSets).map(t =>
          s"b$t AS (SELECT vec_id, (${lshBucketSql(LshBits, EmbDim, LshSeed + t)}) AS bucket FROM e)")
        val cands = (0 until planeSets).map(t =>
          s"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM b$t a " +
            s"JOIN b$t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id")
        s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        ${tables.mkString(",\n")},
        cand AS (${cands.mkString(" UNION ")})
        SELECT c.id_a, c.id_b,
               round(list_cosine_similarity(ea.emb, eb.emb), 6) AS cos
        FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
        WHERE round(list_cosine_similarity(ea.emb, eb.emb), 6) >= $threshold"""
      }, "multi-table LSH blocking, cosine verify inside buckets, no BNLJ") },

    // ---- similarity search ----
    // the brute/LSH/IVF top-5 frames are each consumed twice per catalog
    // pass (their own query + q_ann_recall's truth/approx inputs) with
    // identical (emb, queries, k) configs — session-cache the query-count
    // x k result frames (deterministic: sequential-fold cosines, total
    // tie-breaks) instead of re-deriving the scoring DAGs (guide §2.4)
    "q_ann_topk" -> new Query((s, d) => annTopk5(s, d), annTopkSql,
      "broadcast query rows + window top-k"),
    "q_ann_lsh" -> new Query((s, d) => annLsh5(s, d), annLshSql,
      "hyperplane buckets, native hyperplane_sig expression"),
    "q_ann_ivf" -> new Query((s, d) => annIvf5(s, d), annIvfSql,
      "centroid cells, native ivf_cell/ivf_probe exprs"),
    "q_ann_ivfpq" -> { val (m, ksub, rerank, pqSeed) = (8, 16, 32, 11L); new Query((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.annIvfPq(e, e.where(col("vec_id") % 97 === 0), AnnK, IvfCells, IvfProbe,
        EmbDim, m, ksub, rerank, IvfSeed, pqSeed)
    }, {
        // same seeded coarse centroids + PQ codebooks as
        // Similarity.annIvfPq: per-subspace cosine code assignment, ADC
        // scoring (left-assoc sums match the engine's sequential folds
        // bit-for-bit), top-32 ADC candidates, exact-cosine top-5 rerank
        val sub = EmbDim / m
        val luts = pqLutSql(m, ksub, sub, pqSeed)
        val pqCtes = luts.zipWithIndex
          .map { case (l, i) => s"pq$i AS (SELECT $l AS l)" }.mkString(",\n        ")
        val codeCtes = (0 until m).map { i =>
          val lo = i * sub + 1; val hi = i * sub + sub
          s"""code$i AS (SELECT vec_id, (c - 1)::INT AS c$i FROM (
            SELECT e.vec_id, g.c,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.emb[$lo:$hi], pq$i.l[g.c]) DESC, g.c ASC) AS rn
            FROM e CROSS JOIN pq$i CROSS JOIN (SELECT unnest(generate_series(1, $ksub)) AS c) g) WHERE rn = 1)"""
        }.mkString(",\n        ")
        val codeJoins = (0 until m).map(i => s"JOIN code$i USING (vec_id)").mkString(" ")
        val adc = (0 until m).map { i =>
          val lo = i * sub + 1; val hi = i * sub + sub
          s"list_inner_product(q.q_emb[$lo:$hi], pq$i.l[cd.c$i + 1])"
        }.mkString("(", " + ", ")")
        val pqCross = (0 until m).map(i => s"CROSS JOIN pq$i").mkString(" ")
        s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        cent(cell, cv) AS (VALUES ${ivfCentSql(IvfCells, EmbDim, IvfSeed)}),
        cells AS (SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.emb, c.cv) DESC, c.cell ASC) AS rn
            FROM e CROSS JOIN cent c) WHERE rn = 1),
        $pqCtes,
        $codeCtes,
        codes AS (SELECT * FROM cells $codeJoins),
        q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id % 97 = 0),
        qcells AS (SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY list_cosine_similarity(q.q_emb, c.cv) DESC, c.cell ASC) AS rn
            FROM q CROSS JOIN cent c) WHERE rn <= $IvfProbe),
        cand AS (
            SELECT qc.query_id, cd.vec_id AS neighbor_id, $adc AS adc
            FROM codes cd JOIN qcells qc ON cd.cell = qc.cell
            JOIN q ON q.query_id = qc.query_id
            $pqCross
            WHERE cd.vec_id <> qc.query_id),
        rtop AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY adc DESC, neighbor_id ASC) AS arank
            FROM cand) WHERE arank <= $rerank),
        scored AS (SELECT r.query_id, r.neighbor_id,
                          list_cosine_similarity(e2.emb, q.q_emb) AS cos
                   FROM rtop r JOIN e e2 ON e2.vec_id = r.neighbor_id
                   JOIN q ON q.query_id = r.query_id)
        SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored)
        WHERE rank <= $AnnK"""
      }, "PQ codes + ADC scoring; raw embeddings move only at top-R rerank") },
    // recall@5 of the LSH and IVF indexes vs brute-force truth (ppm)
    // recall@5 of each index vs the brute-force truth, nested CTEs of
    // the three twins above; integer ppm, methods pinned by VALUES so
    // a method with zero candidates still reports 0
    "q_ann_recall" -> new Query((s, d) =>
      Similarity.annRecall(annTopk5(s, d), Seq(
        "lsh" -> annLsh5(s, d),
        "ivf" -> annIvf5(s, d))), s"""
        WITH ex AS ($annTopkSql),
        al AS ($annLshSql),
        ai AS ($annIvfSql),
        ms AS (SELECT 'lsh' AS method, query_id, neighbor_id FROM al
               UNION ALL SELECT 'ivf', query_id, neighbor_id FROM ai),
        rb AS (SELECT m0.method, e.query_id, e.neighbor_id,
                 CASE WHEN ms.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
               FROM (VALUES ('lsh'), ('ivf')) m0(method)
               CROSS JOIN ex e
               LEFT JOIN ms ON ms.method = m0.method
                 AND ms.query_id = e.query_id
                 AND ms.neighbor_id = e.neighbor_id)
        SELECT method, query_id, count(*) AS k_exact,
               CAST(sum(hit) AS BIGINT) AS n_hits,
               CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS recall_ppm
        FROM rb GROUP BY 1, 2""",
      "truth-side-driven left equi-joins on (query, neighbor) per method; integer ppm; zero-candidate methods still report 0"),
    // all-vectors kNN graph (GNN/kNN-LM precursor): IVF cell blocking with
    // a cell-keyed SHUFFLE join — neither side broadcast, the 10^9x10^9
    // shape (see Similarity.knnGraph)
    "q_knn_graph" -> { val k = 3; new Query((s, d) =>
      Similarity.knnGraph(embS(s, d), k, IvfCells, IvfProbe, EmbDim, IvfSeed), {
        // the q_ann_ivf oracle with the query side = the WHOLE table:
        // same seeded centroids, nearest-cell assignment, nprobe=4 probed
        // cells per query, exact cosine re-rank within probed cells, top-3
        s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        cent(cell, cv) AS (VALUES ${ivfCentSql(IvfCells, EmbDim, IvfSeed)}),
        cells AS MATERIALIZED (SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.emb, c.cv) DESC, c.cell ASC) AS rn
            FROM e CROSS JOIN cent c) WHERE rn = 1),
        qcells AS MATERIALIZED (SELECT query_id, cell FROM (
            SELECT e.vec_id AS query_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.emb, c.cv) DESC, c.cell ASC) AS rn
            FROM e CROSS JOIN cent c) WHERE rn <= $IvfProbe),
        scored AS (
            SELECT qc.query_id, ec.vec_id AS neighbor_id,
                   list_cosine_similarity(eq.emb, en.emb) AS cos
            FROM cells ec JOIN qcells qc ON ec.cell = qc.cell
            JOIN e en ON en.vec_id = ec.vec_id
            JOIN e eq ON eq.vec_id = qc.query_id
            WHERE ec.vec_id <> qc.query_id)
        SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored)
        WHERE rank <= $k"""
      },
      "all-vectors kNN graph: cell-keyed SHUFFLE equi-join (neither side broadcast — the 10^9x10^9 shape), per-query window top-k") },
    // offline IVF-centroid trainer: integer-quantized Lloyd's k-means
    // (see Similarity.kmeans exactness contract)
    "q_kmeans" -> new Query((s, d) => kmeansAssign8(s, d),
      OracleSql.qKmeans(KmeansK, KmeansIters, EmbDim),
      "broadcast k x d centroids, narrow packed-long argmin assign (HashAggregate, not SortAggregate), k x d update shuffle per iter"),
    // SemDeDup composite: kmeans clusters -> cluster∧LSH-blocked cosine
    // pairs -> CC survivors (ops/Corpus.semanticDedup); the kmeans
    // assignment is the session-cached frame q_kmeans also returns
    // SemDeDup: the q_kmeans CTE chain re-derives the assignments, the
    // q_embed_dups blocking gains the same-cluster term, and the
    // q_dedup_cluster recursive min-label fixpoint yields survivors
    "q_semdedup" -> { val (threshold, planeSets) = (0.4, 4); new Query((s, d) =>
      ops.Corpus.semanticDedup(tbl(s, d, "embeddings"), threshold, KmeansK, KmeansIters,
        LshBits, EmbDim, planeSets, LshSeed, assignOpt = Some(kmeansAssign8(s, d))), {
        val tables = (0 until planeSets).map(t =>
          s"b$t AS (SELECT vec_id, cluster, (${lshBucketSql(LshBits, EmbDim, LshSeed + t)}) AS bucket FROM ec)")
        val cands = (0 until planeSets).map(t =>
          s"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM b$t a " +
            s"JOIN b$t b ON a.cluster = b.cluster AND a.bucket = b.bucket " +
            s"AND a.vec_id < b.vec_id")
        s"""
        WITH RECURSIVE ${OracleSql.qKmeansCtes(KmeansK, KmeansIters, EmbDim)},
        e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        ec AS MATERIALIZED (
          SELECT e.vec_id, e.emb, a.cluster FROM e JOIN a3 a USING (vec_id)),
        ${tables.mkString(",\n        ")},
        cand AS (${cands.mkString(" UNION ")}),
        spairs AS MATERIALIZED (
          SELECT c.id_a, c.id_b FROM cand c
          JOIN ec ea ON ea.vec_id = c.id_a
          JOIN ec eb ON eb.vec_id = c.id_b
          WHERE round(list_cosine_similarity(ea.emb, eb.emb), 6) >= $threshold),
        sedges AS (SELECT id_a AS a, id_b AS b FROM spairs
                   UNION ALL SELECT id_b, id_a FROM spairs),
        sr(v, m) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT e2.a, sr.m FROM sedges e2 JOIN sr ON sr.v = e2.b),
        scc AS (SELECT v AS vec_id, min(m) AS sem_cluster FROM sr GROUP BY v)
        SELECT a.vec_id, a.cluster, scc.sem_cluster,
               scc.sem_cluster = a.vec_id AS keep
        FROM a3 a JOIN scc USING (vec_id)"""
      },
      "kmeans clusters -> cluster+LSH-blocked cosine pairs -> CC survivors; pairs never leave their cluster block") },

    // ---- relational analogues of the reference's aggregation/sort ops ----
    // mirrors q_rollup: Spark grouping_id() for rollup(a,b) is
    // grouping(a)*2 + grouping(b)
    "q_rollup" -> new Query((s, d) => // OLAP grouping sets: ROLLUP + grouping_id
      tbl(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum((col("l_quantity") * 100).cast("long")).as("qty_cents")), """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty_cents
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
      "ROLLUP grouping sets with grouping_id; single Expand + two-phase agg"),
    "q_running_total" -> new Query((s, d) => { // deterministic cumulative sum
      // integer cents: a float running sum's value depends on the window
      // implementation's summation order (DuckDB uses segment trees),
      // so only an integer cumulative is engine-independent
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderkey").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      tbl(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("running_cents", sum("cents").over(w))
        .drop("cents")
    }, """
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS running_cents
        FROM orders""", "integer-cents running totals: one window sort per key, deterministic"),
    // Acc/Mean merge semantics (score.py:12-53)
    "q_agg_acc" -> { val minDiscount = 0.05; new Query((s, d) =>
      tbl(s, d, "lineitem").groupBy("l_returnflag")
        .agg(round(avg(when(col("l_discount") > minDiscount, 1.0).otherwise(0.0)), 6).as("acc"),
          count(lit(1)).as("n")), s"""
        SELECT l_returnflag,
               round(avg(CASE WHEN l_discount > $minDiscount THEN 1.0 ELSE 0.0 END), 6) AS acc,
               count(*) AS n
        FROM lineitem GROUP BY 1""", "grouped accuracy agg, two-phase HashAggregate") },
    "q_topk_orders" -> { val k = 3; new Query((s, d) => { // SortBuffer/topk (buffer.py:38-47)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      tbl(s, d, "orders").withColumn("rn", row_number().over(w))
        .where(col("rn") <= k)
        .select(col("o_custkey"), col("rn").cast("long").as("rn"), col("o_orderkey"))
    }, s"""
        SELECT o_custkey, rn, o_orderkey FROM (
          SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders)
        WHERE rn <= $k""",
      "window top-k with WindowGroupLimit pushdown (rank filter reaches the window operator)") },
    "q_join_agg" -> new Query((s, d) =>
      tbl(s, d, "orders").join(tbl(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue")), """
        SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1""", "broadcast dim join into a two-phase agg"),
    "q_distinct_sort" -> new Query((s, d) => // rels-vocab build (07_syntax main.ipynb)
      tbl(s, d, "events").select("event_type").distinct().orderBy("event_type"),
      "SELECT DISTINCT event_type FROM events ORDER BY 1",
      "distinct rels vocab: two-phase agg + single small sort"),
    // typed Aggregator = Acc merge semantics (score.py:12-31)
    "q_acc_agg" -> { val minValue = 100.0; new Query((s, d) => {
      import s.implicits._
      tbl(s, d, "events").select(col("event_type"), col("value"))
        .as[(String, Double)]
        .groupByKey(_._1)
        .agg(new graft.eval.AccOn[(String, Double)](_._2 > minValue).toColumn.name("acc_raw"))
        .toDF("event_type", "acc_raw")
        .select(col("event_type"), round(col("acc_raw"), 6).as("acc"))
    }, s"""
        SELECT event_type,
               round(avg(CASE WHEN value > $minValue THEN 1.0 ELSE 0.0 END), 6) AS acc
        FROM events GROUP BY 1""",
      "positional zip + one partial/final avg agg; dictionary side broadcast") },
    // integer CUSUM ingest-anomaly flags per hour (see Sessions.ingestCusum)
    // mirrors Sessions.ingestCusum: two-sided s = c - min(0, runmin(c))
    "q_ingest_cusum" -> { val (drift, threshold) = (2L, 15L); new Query((s, d) =>
      ops.Sessions.ingestCusum(tbl(s, d, "events"), drift = drift, threshold = threshold), s"""
        WITH cb AS (SELECT date_trunc('hour', ts) AS ws, count(*)::BIGINT AS n
              FROM events GROUP BY 1),
        ct AS (SELECT sum(n)::BIGINT AS tot, count(*)::BIGINT AS nb FROM cb),
        cd AS (SELECT ws, n, n - (SELECT tot // nb FROM ct) - $drift AS d,
                 (SELECT tot // nb FROM ct) - $drift - n AS dl FROM cb),
        cc AS (SELECT ws, n,
                 sum(d) OVER (ORDER BY ws ROWS UNBOUNDED PRECEDING)::BIGINT AS c,
                 sum(dl) OVER (ORDER BY ws ROWS UNBOUNDED PRECEDING)::BIGINT AS cl
               FROM cd),
        cs AS (SELECT ws, n,
                 CAST(c - least(min(c) OVER (ORDER BY ws
                   ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS cusum_high,
                 CAST(cl - least(min(cl) OVER (ORDER BY ws
                   ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS cusum_low
               FROM cc)
        SELECT ws, n, cusum_high, cusum_low,
               cusum_high > $threshold AS flagged_high,
               cusum_low > $threshold AS flagged_low
        FROM cs""",
      "CUSUM fold as cumsum - running-min (two windows over the AGGREGATED hourly table, not the corpus); all integer") },
    "q_events_window" -> new Query((s, d) => // event-time tumbling window aggregation
      tbl(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value")), """
        SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2""", "watermark-shaped tumbling window agg, two-phase"),
    // Vocab.encode as broadcast join (vocab.py:29-31)
    "q_vocab_encode" -> { val words = Seq("scan", "filter", "join", "agg", "window", "sort")
      new Query((s, d) => {
      import s.implicits._
      val vocab = words.zipWithIndex.toDF("word", "word_id")
      tbl(s, d, "documents")
        .select(col("doc_id"), explode(TextStats.tokens(F.lower_simple(col("text")))).as("word"))
        .join(broadcast(vocab), Seq("word"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"),
          count(when(col("word_id").isNull, 1)).as("n_unk"))
    }, s"""
        WITH w AS (SELECT doc_id, unnest(${toks("lower(text)")}) AS word FROM documents),
        v AS (SELECT * FROM (VALUES ${words.map(w => s"('$w')").mkString(",")}) AS t(word))
        SELECT doc_id, count(*) AS n,
               count(*) FILTER (WHERE v.word IS NULL) AS n_unk
        FROM w LEFT JOIN v ON w.word = v.word GROUP BY 1""",
      "broadcast vocab get-or-unk projection; row-local") },

    // DuckDB's native ASOF JOIN is the independent implementation here —
    // the engine's union+window rewrite must reproduce it exactly
    "q_asof_join" -> new Query((s, d) => { // backward as-of join (DuckDB ASOF semantics)
      val ev = tbl(s, d, "events")
      val left = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 6).as("value"))
      // right unique per (user, ts): deterministic survivor = max event_id
      val right = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("r_value"))
      ops.AsOf.asofJoin(left, right, "user_id", "ts", Seq("r_value"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("matched_ts"), round(col("matched_r_value"), 6).as("matched_value"))
    }, """
        WITH l AS (SELECT event_id, user_id, ts, round(value, 6) AS value
                   FROM events WHERE event_type = 'purchase'),
        r0 AS (SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'view'),
        r AS (SELECT user_id, ts, max_by(value, event_id) AS r_value
              FROM r0 GROUP BY 1, 2)
        SELECT l.event_id, l.user_id, l.ts, l.value,
               r.ts AS matched_ts, round(r.r_value, 6) AS matched_value
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""",
      "union + ONE shuffle + running-last window (no per-row range probe)"),
    // batch gaps-and-islands sessionization
    "q_sessionize" -> { val gapSec = 43200L; new Query((s, d) =>
      ops.Sessions.sessionize(tbl(s, d, "events"), "user_id", "ts", "event_id", "value", gapSec),
      s"""
        WITH o AS (SELECT user_id, ts, value, event_id,
                     lag(epoch_us(ts)) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev
                   FROM events),
        f AS (SELECT *, CASE WHEN prev IS NULL
                          OR epoch_us(ts) - prev > ${gapSec * 1000000} THEN 1
                        ELSE 0 END AS nw FROM o),
        s AS (SELECT *, cast(sum(nw) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS session_idx FROM f)
        SELECT user_id, session_idx, min(ts) AS session_start,
               max(ts) AS session_end, count(*) AS n_events,
               round(sum(value), 6) AS sum_value
        FROM s GROUP BY 1, 2""",
      "gap sessionization: one user-keyed window, session ids via cumsum of gap flags") },
    // mirrors Sessions.funnel: step k strictly after the user's first
    // completion of step k-1
    "q_funnel" -> new Query((s, d) => // strict-order product funnel over events
      ops.Sessions.funnel(tbl(s, d, "events"),
        Seq("signup", "view", "click", "purchase")), """
        WITH f1 AS MATERIALIZED (SELECT user_id, min(ts) AS t FROM events
               WHERE event_type = 'signup' GROUP BY 1),
        f2 AS MATERIALIZED (SELECT e.user_id, min(e.ts) AS t FROM events e
               JOIN f1 p ON p.user_id = e.user_id AND e.ts > p.t
               WHERE e.event_type = 'view' GROUP BY 1),
        f3 AS MATERIALIZED (SELECT e.user_id, min(e.ts) AS t FROM events e
               JOIN f2 p ON p.user_id = e.user_id AND e.ts > p.t
               WHERE e.event_type = 'click' GROUP BY 1),
        f4 AS MATERIALIZED (SELECT e.user_id, min(e.ts) AS t FROM events e
               JOIN f3 p ON p.user_id = e.user_id AND e.ts > p.t
               WHERE e.event_type = 'purchase' GROUP BY 1)
        SELECT * FROM (
          SELECT 1 AS step, 'signup' AS event_type,
                 (SELECT count(*) FROM f1) AS n_users
          UNION ALL SELECT 2, 'view', (SELECT count(*) FROM f2)
          UNION ALL SELECT 3, 'click', (SELECT count(*) FROM f3)
          UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM f4)) u""",
      "per-step min-agg + user-keyed equi-join chain; no windows, no self-cross-join"),
    // mirrors Sessions.retention: cohort = first active day
    "q_retention" -> new Query((s, d) => // cohort-by-first-day retention matrix
      ops.Sessions.retention(tbl(s, d, "events")), """
        WITH fst AS (SELECT user_id, min(ts::DATE) AS cohort_date
               FROM events GROUP BY 1),
        act AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events)
        SELECT cohort_date, date_diff('day', cohort_date, day) AS offset_days,
               count(*) AS n_users
        FROM act JOIN fst USING (user_id) GROUP BY 1, 2""", "two per-user aggs + one equi-join"),
    // inverted-index BM25 relevance search; k1 and b are interpolated
    // into the oracle from the SAME Scala doubles the engine uses
    // (shortest-round-trip repr), so both engines evaluate the identical
    // IEEE expression; only ln() is libm-dependent, and the round-6
    // absorbs its <=1-ulp spread
    "q_bm25" -> { val (k, k1, b) = (5, 1.2, 0.75); new Query((s, d) => {
      import s.implicits._
      val queries = BmQueries.toDF("query_id", "term")
      ops.Search.bm25TopK(docsS(s, d), queries, k, k1, b)
    }, {
        val qvals = BmQueries.map { case (q, t) => s"('$q', '$t')" }.mkString(", ")
        s"""
        WITH q(query_id, term) AS (VALUES $qvals),
        tf AS (SELECT doc_id, tok AS term, count(*) AS tf
               FROM (SELECT doc_id, unnest(${toks("lower(text)")}) AS tok FROM documents)
               GROUP BY 1, 2),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        st AS (SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        sc AS (SELECT q.query_id, tf.doc_id,
                 sum(ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
                     * (tf.tf * ${k1 + 1.0})
                     / (tf.tf + $k1 * (${1.0 - b} + $b * dl.dl / st.avgdl))) AS score
               FROM tf JOIN q ON q.term = tf.term
               JOIN dfr ON dfr.term = tf.term
               JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
               GROUP BY 1, 2)
        SELECT query_id, rank, doc_id, round(score, 6) AS score FROM (
          SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id ASC) AS rank FROM sc)
        WHERE rank <= $k"""
      }, "inverted-index tf + broadcast term semi-join") },
    "q_length_stats" -> new Query((s, d) => ops.TextStats.lengthStats(tbl(s, d, "documents")), s"""
        WITH t AS (SELECT lang, len(${toks("text")}) AS n FROM documents)
        SELECT lang, count(*) AS n_docs, cast(sum(n) AS BIGINT) AS n_tokens,
               min(n) AS min_tokens, max(n) AS max_tokens,
               round(quantile_cont(n, 0.5), 6) AS p50_tokens,
               round(quantile_cont(n, 0.9), 6) AS p90_tokens
        FROM t GROUP BY 1""", "exact percentile sort-agg per language"),
    // bounded-state histogram quantiles (the 100 TB stand-in for exact
    // percentile): one narrow agg over O(maxLen/width) buckets
    // histogram quantile sketch: all-integer (bucket counts, cumulative
    // window, threshold compare), so exactly mirrorable
    "q_length_quantiles" -> { val (width, ps) = (64, Seq(50, 90, 99)); new Query((s, d) =>
      ops.TextStats.lengthQuantiles(tbl(s, d, "documents"), width, ps), s"""
        WITH b AS (SELECT CAST(floor(length(text) / $width) AS BIGINT) AS bucket FROM documents),
        c AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        cum AS (SELECT bucket, CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum FROM c),
        n AS (SELECT count(*) AS total FROM b),
        q AS (SELECT unnest([${ps.mkString(", ")}]) AS p)
        SELECT p, (min(bucket) + 1) * $width AS cutoff_chars,
               CAST(min(cum) AS BIGINT) AS cum_docs
        FROM cum, n, q WHERE cum * 100 >= p * total GROUP BY 1""",
      "histogram quantile sketch: one narrow two-phase agg over O(maxLen/width) buckets + few-row window; no corpus-scale sort") },

    "q_salted_wordcount" -> new Query((s, d) => // two-phase salted agg == plain groupBy
      ops.Skew.saltedCount(
        tbl(s, d, "documents")
          .select(explode(TextStats.tokens(F.lower_simple(col("text")))).as("word")),
        col("word"), 16)
        .select(col("k").as("word"), col("n")), s"""
        SELECT word, count(*) AS n
        FROM (SELECT unnest(${toks("lower(text)")}) AS word FROM documents)
        GROUP BY 1""", "two-phase salted agg: salted partial, unsalted final"),
    "q_json_roundtrip" -> new Query((s, d) => { // format_jl/parse_jl analogue (io.py:6-42)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      tbl(s, d, "events")
        .select(to_json(struct(col("event_id"), col("event_type"), col("value"))).as("j"))
        .select(from_json(col("j"), schema).as("r"))
        .select(col("r.event_id").as("event_id"), col("r.event_type").as("event_type"),
          round(col("r.value"), 6).as("value"))
    }, "SELECT event_id, event_type, round(value, 6) AS value FROM events",
      "JSONL read -> typed parse -> parquet-shape projection; schema pruned at source"),

    // ---- interleaved span passthrough (SQL-checked invariant) ----
    "q_span_passthrough" -> new Query((s, d) =>
      Docs.fromDocuments(s, d).select(
        col("doc_id"), (col("i") * 2 + col("sub")).cast("long").as("ord"),
        col("span.kind").as("kind"), col("span.text").as("text"),
        col("span.media_ref").as("media_ref")), """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        g AS (SELECT doc_id, tk, unnest(generate_series(0, cast(ceil(len(tk)/8.0) AS int) - 1)) AS i FROM t),
        chunks AS (SELECT doc_id, i, array_to_string(tk[i*8+1:i*8+8], ' ') AS chunk FROM g)
        SELECT doc_id, i*2 AS ord, 'text' AS kind, chunk AS text, NULL AS media_ref FROM chunks
        UNION ALL
        SELECT doc_id, i*2+1 AS ord, 'media' AS kind, NULL AS text,
               's3://media/' || doc_id || '/' || i || '.bin' AS media_ref
        FROM chunks WHERE (doc_id + i) % 4 = 0""",
      "media spans pass through untouched with lineage; text spans only enter the model stage"),

    "q_pipeline_tokens" -> new Query((s, d) => {
      // REAL documents through the REAL NLP pipeline (tokenize -> batched
      // inference -> ParsedSent); token counts are oracle-checkable because
      // the corpus charset is [a-z ] where our tokenizer == the regex
      import s.implicits._
      val docs = Docs.fromDocuments(s, d)
        .select(col("doc_id").cast("string").as("doc_id"),
          (col("i") * 2 + col("sub")).as("ord"), col("span"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("ord"), col("span")))).as("ss"))
        .select(col("doc_id"),
          expr("transform(ss, x -> struct(x.span.kind as kind, x.span.text as text, " +
            "x.span.media_ref as media_ref, cast(x.ord as int) as offset))").as("spans"))
        .as[graft.sources.InterleavedDoc]
      Pipeline.parse(Docs.sentences(docs), packBc(s))
        .map(p => (p.docId, p.tokens.length.toLong))
        .toDF("doc_id", "n")
        .groupBy("doc_id").agg(sum("n").as("n_tokens"))
    }, s"""
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, len(${toks("text")}) AS n_tokens
        FROM documents""", "sentenize+tokenize inside the fused object stage; one scan"),

    // ---- NLP + KG pipeline (planted corpus) ----
    // Value-checked end-to-end: OracleSql reconstructs the corpus and its
    // by-construction golden annotations in DuckDB (splitmix64 in SQL), so
    // the driver's gate verifies inference + extraction output values, not
    // just row counts. sbt golden tests cover the same plus batch/padding
    // invariance.
    "q_ner_spans" -> new Query((s, d) => {
      import s.implicits._
      parsed(s, d).flatMap(p => p.nerSpans.map(sp =>
          (p.docId, p.spanOrder, p.sentIdx, sp.start, sp.stop, sp.tpe,
            p.text.substring(sp.start, sp.stop))))
        .toDF("doc_id", "span_order", "sent_idx", "start", "stop", "tpe", "mention")
    }, OracleSql.qNerSpans,
      "fused pipeline stage -> BIO decode -> span rows; no Exchange inside the object stage"),
    "q_morph_tags" -> new Query((s, d) => {
      import s.implicits._
      parsed(s, d).flatMap(p => p.morph.zipWithIndex.map { case (m, i) =>
          (p.docId, p.spanOrder, p.sentIdx, i, m.text, m.pos,
            graft.text.Conll.formatTag(m.pos, m.feats))
        })
        .toDF("doc_id", "span_order", "sent_idx", "tok_idx", "word", "pos", "tag")
    }, OracleSql.qMorphTags,
      "fused pipeline stage -> per-token tag explode; no Exchange before explode"),
    "q_morph_feats" -> new Query((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, explode}
      // feats surfaced as a REAL MapType(String,String) column
      // (markup.py:105-110), then exploded for the row-level oracle check
      parsed(s, d).flatMap(p => p.morph.zipWithIndex.map { case (m, i) =>
          (p.docId, p.spanOrder, p.sentIdx, i, m.text, m.pos, m.feats)
        })
        .toDF("doc_id", "span_order", "sent_idx", "tok_idx", "word", "pos", "feats")
        .select(col("doc_id"), col("span_order"), col("sent_idx"),
          col("tok_idx"), col("word"), col("pos"),
          explode(col("feats")).as(Seq("feat", "value")))
    }, OracleSql.qMorphFeats, "MapType explode over the fused NLP pipeline stage"),
    "q_syntax_parse" -> new Query((s, d) => {
      import s.implicits._
      parsed(s, d).flatMap(p => p.syn.map(t =>
          (p.docId, p.spanOrder, p.sentIdx, t.id, t.text, t.headId, t.rel)))
        .toDF("doc_id", "span_order", "sent_idx", "tok_id", "word", "head_id", "rel")
    }, OracleSql.qSyntaxParse, "fused pipeline stage -> biaffine decode -> head/rel rows"),
    "q_triples" -> new Query((s, d) => Kg.triples(parsed(s, d)).toDF(), OracleSql.qTriples,
      "dep-pattern extraction over parsed sents; pattern match row-local after the fused stage"),
    "q_triples_canonical" -> new Query((s, d) =>
      canonicalTriples(s, d), OracleSql.qTriplesCanonical,
      "full KG pipeline: ONE fused MapPartitions object stage, broadcast probes, zero Exchange until the KG joins"),
    // independent CC implementation: recursive-CTE label propagation over
    // the inlined alias dict; min reachable id == our large/small-star +
    // driver union-find representative
    "q_entities" -> new Query((s, d) => Kg.canonicalMap(s)
      .select(col("id").as("entity_id"), col("component").as("canonical_id")), {
        val vals = graft.corpus.RuCorpus.aliasDict
          .map(r => s"('${r.alias}', '${r.entityId}')").mkString(", ")
        s"""
        WITH RECURSIVE
        dict(alias, entity_id) AS (SELECT * FROM (VALUES $vals) t(alias, entity_id)),
        nodes AS (SELECT DISTINCT entity_id FROM dict),
        edges AS (SELECT a.entity_id AS src, b.entity_id AS dst
                  FROM dict a JOIN dict b ON a.alias = b.alias AND a.entity_id <> b.entity_id),
        reach(id, r) AS (
          SELECT entity_id, entity_id FROM nodes
          UNION
          SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
        SELECT id AS entity_id, min(r) AS canonical_id FROM reach GROUP BY 1"""
      },
      "alias same-as edges -> adaptive CC (driver UF under 2M edges, large-small-star above) -> canonical id join"),
    // ---- KG analytics over the built graph (kg/Analytics) ----
    "q_kg_degrees" -> new Query((s, d) =>
      kg.Analytics.degrees(canonicalTriples(s, d)), OracleSql.qKgDegrees,
      "triple scan pruned to (subj, obj), union + one agg"),
    "q_kg_pagerank" -> { val iters = 10; new Query((s, d) =>
      kg.Analytics.pageRank(canonicalTriples(s, d), iters), OracleSql.qKgPagerank(iters),
      "iterative rank joins, lineage truncated per superstep") },
    "q_kg_comentions" -> { val minDocs = 2; new Query((s, d) =>
      kg.Analytics.coMentions(canonicalTriples(s, d), minDocs), OracleSql.qKgComentions(minDocs),
      "per-doc blocked pairs: driver count when sum C(n,2) fits, else self-join + two-phase agg") },
    // relevance as seen from the PER-typed canonical subjects
    "q_kg_pprank" -> { val iters = 10; new Query((s, d) => {
      val t = canonicalTriples(s, d)
      kg.Analytics.personalizedPageRank(t, perSubjects(t), iters)
    }, OracleSql.qKgPprank(iters), "seed-restart supersteps, lineage-truncated") },
    // undirected: this grammar's objects never re-occur as subjects, so
    // the directed hop chain is empty by construction; the symmetrized
    // graph exercises the same skew-prone hop join with real output
    "q_kg_twohop" -> { val undirected = true; new Query((s, d) =>
      kg.Analytics.twoHopPaths(canonicalTriples(s, d), undirected),
      OracleSql.qKgTwoHop(undirected), "hop equi-join: the AQE skew-split shape") },
    "q_kg_pred_stats" -> new Query((s, d) =>
      kg.Analytics.predicateStats(canonicalTriples(s, d)), OracleSql.qKgPredStats,
      "per-predicate count/distinct agg, two-phase"),
    "q_kg_communities" -> { val iters = 5; new Query((s, d) =>
      kg.Analytics.labelProp(canonicalTriples(s, d), iters), OracleSql.qKgCommunities(iters),
      "LPA supersteps: one neighbor-label agg + argmax join per round, lineage truncated") },
    "q_kg_triangles" -> new Query((s, d) =>
      // triangle counts over the co-mention graph (the triple DAG itself
      // is near-bipartite by construction; co-mentions close triangles)
      kg.Analytics.triangles(
        kg.Analytics.coMentions(canonicalTriples(s, d), minDocs = 1)
          .select(col("e1"), col("e2"))), OracleSql.qKgTriangles,
      "degree-oriented wedge joins; orientation bounds wedges on hubs"),
    // multi-source BFS from the PER-typed canonical subjects;
    // undirected for the same reason as q_kg_twohop (the grammar's
    // directed chains are empty by construction)
    "q_kg_bfs" -> { val maxHops = 4; new Query((s, d) => {
      val t = canonicalTriples(s, d)
      kg.Analytics.bfsDistances(t, perSubjects(t), maxHops, undirected = true)
    }, OracleSql.qKgBfs(maxHops),
      "frontier-only Pregel supersteps: one equi-join + min-agg per hop") },
    "q_kg_neighbor_jaccard" -> { val (minCommon, hubCap) = (1L, 10000L); new Query((s, d) =>
      kg.Analytics.neighborJaccard(canonicalTriples(s, d), minCommon, hubCap),
      OracleSql.qKgNeighborJaccard(minCommon, hubCap),
      "hub-capped wedge pairs: driver count when they fit, else self-join") },
    "q_kg_walks" -> { val (walksPerStart, walkLen, seed) = (2, 3, 42L); new Query((s, d) =>
      kg.Analytics.randomWalks(canonicalTriples(s, d), walksPerStart, walkLen, seed),
      OracleSql.qKgWalks(walksPerStart, walkLen, seed),
      "hash-pick composite equi-join per step over dense-ranked neighbor lists") },
    "q_kg_hits" -> { val iters = 5; new Query((s, d) =>
      kg.Analytics.hits(canonicalTriples(s, d), iters), OracleSql.qKgHits(iters),
      "broadcast-norm half-step supersteps") },
    // TransE-style KG-embedding training pairs: deterministic hash-drawn
    // corrupted head/tail negatives (see Analytics.transeSamples)
    "q_kg_transe" -> { val negatives = 2; new Query((s, d) =>
      kg.Analytics.transeSamples(canonicalTriples(s, d), negatives),
      OracleSql.qKgTranse(negatives),
      "TransE negatives: two-level dense entity ids (64 parallel bucket windows + broadcast offsets, no global-sort window); probes join the vocab eid-keyed; collision re-pick joins only colliding rows") },
    // adjacency-list export (the GNN/embedding-trainer consumption shape):
    // Analytics.adjacency keeps the ARRAY column + per-entity degree cap
    // (the real export); the CSV serialization here is GATE-ONLY — the
    // driver compares scalar columns (pandas can't sort array cells).
    // maxDegree default (10000) far exceeds any sf0.01 degree, so the
    // gate sees the uncapped lists; the cap behavior has its own spec.
    "q_kg_adjacency" -> new Query((s, d) =>
      kg.Analytics.adjacency(canonicalTriples(s, d))
        .select(col("entity_id"), col("out_degree"),
          array_join(col("neighbors"), ",").as("neighbors")), OracleSql.qKgAdjacency,
      "distinct + degree-capped collect_list export agg (truncated flag, true degree kept)"),
    "q_kg_kcore" -> { val (k, rounds) = (2, 4); new Query((s, d) =>
      kg.Analytics.kCore(canonicalTriples(s, d), k, rounds), OracleSql.qKgKcore(k, rounds),
      "degree agg + two semi-joins per peel round") },
    // GraphSAGE minibatch fan-out: deterministic per-hop top-k neighbor
    // sample, every entity a seed (see Analytics.neighborSample)
    "q_kg_sample" -> { val (fanouts, seed) = (Seq(3, 2), 42L); new Query((s, d) =>
      kg.Analytics.neighborSample(canonicalTriples(s, d), fanouts, seed),
      OracleSql.qKgNeighborSample(fanouts, seed),
      "per-hop sampled adjacency via WindowGroupLimit top-k (hub costs k rows); expansion = frontier equi-joins; output bounded V*prod(fanouts)") },
    // co-entity story clustering: docs sharing >= 3 canonical entities
    // with corpus-df <= 500, closed transitively by CC (see
    // Analytics.storyClusters). Params sit at the sf0.01 operating point
    // where stories are non-degenerate (the synthetic corpus has only
    // 100 canonical entities, so hub df is huge): cap 500 keeps 64 rare
    // entities / 2.4M blocked pairs, minShared 3 yields ~170 small
    // stories instead of one mega-component.
    "q_kg_stories" -> { val (minShared, hubCap) = (3L, 500L); new Query((s, d) =>
      kg.Analytics.storyClusters(canonicalTriples(s, d), minShared, hubCap),
      OracleSql.qKgStories(minShared, hubCap),
      "hub-capped entity-blocked doc pairs (volume sum C(df,2), df<=cap): driver count + union-find when it fits, else self-join, minShared filter BEFORE CC; adaptive union-find") },
    // per-entity profile card (majority type, counts, top-k preds CSV)
    "q_kg_entity_cards" -> { val topK = 3; new Query((s, d) =>
      kg.Analytics.entityCards(canonicalTriples(s, d), topK), OracleSql.qKgEntityCards(topK),
      "one two-sided explode scan feeding 4 aggregates; top-k windows as WindowGroupLimit per (entity, side); entity-id equi-join stitches") },
    // second-order biased walks (node2vec p/q bias as integer
    // milli-weights: return 250, in-out 500, d=1 band 1000)
    "q_kg_node2vec" -> {
      val (walksPerStart, walkLen, returnWeight, inOutWeight, seed) = (2, 3, 250L, 500L, 42L)
      new Query((s, d) => kg.Analytics.node2vecWalks(canonicalTriples(s, d),
          walksPerStart, walkLen, returnWeight, inOutWeight, seed),
        OracleSql.qKgNode2vec(walksPerStart, walkLen, returnWeight, inOutWeight, seed),
        "per step: frontier x out-nbrs equi-join + d=1 membership left-join + per-walk windows (partition = one candidate list); no BNLJ")
    },
    // ontology induction: per-predicate type signatures with ppm share
    "q_kg_signatures" -> new Query((s, d) =>
      kg.Analytics.predicateSignatures(canonicalTriples(s, d)), OracleSql.qKgSignatures,
      "one two-phase hash aggregate over triples; pred-keyed window runs on the aggregated signature table, not the corpus"),
    // strongly connected components (directed cycle structure)
    "q_kg_scc" -> new Query((s, d) => kg.Analytics.scc(canonicalTriples(s, d)), OracleSql.qKgScc,
      "size-adaptive: driver Kosaraju under 2M edges (bit-identical distributed trim+double-min-label fallback, spec-asserted); supersteps are equi-join+min-agg"),
    // deterministic per-entity annotation batches (hash-ranked mentions)
    "q_kg_annotation" -> { val (k, seed) = (3, 42L); new Query((s, d) =>
      kg.Analytics.annotationSample(canonicalTriples(s, d), k, seed),
      OracleSql.qKgAnnotationSample(k, seed),
      "one two-sided explode + entity-keyed WindowGroupLimit top-k by hash rank; hub entity costs k rows") },
    // linking-quality report: linked vs M:-fallback mentions per type
    "q_kg_link_coverage" -> new Query((s, d) =>
      kg.Analytics.linkCoverage(canonicalTriples(s, d)), OracleSql.qKgLinkCoverage,
      "one two-sided explode + one conditional-count hash aggregate; 4-row output"),
    // mention-weighted PageRank (triple-count edge weights)
    "q_kg_wpagerank" -> { val iters = 10; new Query((s, d) =>
      kg.Analytics.weightedPageRank(canonicalTriples(s, d), iters),
      OracleSql.qKgWeightedPagerank(iters),
      "weighted-edge set with W pre-joined, persisted once; per iter one equi-join + hash agg; integer (rank*w) div W contract") },
    // shortest-path forest from the q_kg_bfs seeds: distances + the
    // deterministic min-predecessor parent pointer (path reconstruction)
    "q_kg_paths" -> { val maxHops = 4; new Query((s, d) => {
      val t = canonicalTriples(s, d)
      kg.Analytics.shortestPathForest(t, perSubjects(t), maxHops, undirected = true)
    }, OracleSql.qKgPaths(maxHops),
      "BFS supersteps + min(struct(dist,parent)) merge; parent = min predecessor at dist-1, deterministic path reconstruction") },
    // uas/las meters as typed Aggregators (score.py:109-117 semantics):
    // a left-attach+constant-rel baseline scored against the pipeline's
    // trees, grouped by sentence length — nontrivial, value-checkable rates
    "q_uas_las" -> new Query((s, d) => {
      import s.implicits._
      parsed(s, d).flatMap { p =>
        p.syn.map(t => (p.syn.length, t.id - 1, t.headId, "obj", t.rel))
      }.groupByKey(_._1)
        .agg(new graft.eval.UasLasOn[(Int, Int, Int, String, String)](
          v => (v._2, v._3, v._4, v._5)).toColumn.name("ul"))
        .toDF("n_tokens", "ul")
        .select(col("n_tokens"), round(col("ul.uas"), 6).as("uas"),
          round(col("ul.las"), 6).as("las"))
    }, OracleSql.qUasLas, "positional zip of gold vs pred heads + one agg"),
    // corpus row count is docCount(sf) = 20x the documents table; every
    // per-doc span sequence must survive the pipeline intact
    "q_span_invariant" -> new Query((s, d) => {
      import s.implicits._
      // per-doc hash of the (kind,text,media_ref,order) sequence before and
      // after flowing through the pipeline's explode/reassemble scaffold
      val docs = Docs.russianDocs(s, d)
      val pre = docs.map(dd => (dd.doc_id,
        dd.spans.map(x => s"${x.kind}|${x.text}|${x.media_ref}").mkString("")))
        .toDF("doc_id", "pre_sig")
      val post = docs.flatMap(dd => dd.spans.zipWithIndex.map { case (x, i) =>
          (dd.doc_id, i, x.kind, x.text, x.media_ref)
        })
        .toDF("doc_id", "ord", "kind", "text", "media_ref")
        .groupBy("doc_id")
        .agg(array_join(transform(array_sort(collect_list(struct(col("ord"),
          concat_ws("|", coalesce(col("kind"), lit("null")),
            coalesce(col("text"), lit("null")),
            coalesce(col("media_ref"), lit("null"))).as("sig")))),
          x => x.getField("sig")), "").as("post_sig"))
      pre.join(post, Seq("doc_id"))
        .select(col("doc_id"), (col("pre_sig") === col("post_sig")).as("invariant_holds"))
    }, """
        WITH n AS (SELECT row_number() OVER () - 1 AS i FROM documents),
        g AS (SELECT unnest(generate_series(0, 19)) AS j)
        SELECT 'd' || (n.i * 20 + g.j) AS doc_id, true AS invariant_holds
        FROM n, g""",
      "groupby-rejoin preserves (kind, text, media_ref, order) exactly; order restored by sort inside group"),

    // ---- multimodal plumbing (decode stubbed; schema/batching real) ----
    // checked projection emits scalar columns only; the full feature vector
    // stays on Multimodal.features for internal callers
    // full-pipeline value checks: the corpus is a pure function of
    // splitmix64, reproduced bit-exactly in SQL (OracleSql)
    "q_media_features" -> new Query((s, d) => ops.Multimodal.featureScalars(s, d),
      OracleSql.qMediaFeatures, "real PNG decode in mapPartitions; binary column never shuffled"),
    "q_audio_features" -> new Query((s, d) => ops.Multimodal.audioFeatures(s, d),
      OracleSql.qAudioFeatures, "real WAV decode, lock-free SPI providers"),
    "q_video_frames" -> { val everyK = 2; new Query((s, d) =>
      ops.Multimodal.videoFrameFeatures(s, d, everyK), OracleSql.qVideoFrames(everyK),
      "real multi-frame GIF decode (non-GIF codecs are documented stubs)") },

    // ---- corpus assembly (dedup clustering, sampling, packing, mixing) ----
    // clustering oracle: transitive min-label reachability over the
    // symmetric dup-pair graph (WITH RECURSIVE fixpoint), then the
    // survivor rule min(reachable) — semantically identical to the
    // engine's connected components
    "q_dedup_cluster" -> new Query((s, d) =>
      Dedup.dedupClustersFromPairs(tbl(s, d, "documents"), minhashPairs(s, d)), s"""
        WITH RECURSIVE $minhashPairsCtes,
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        r(doc, m) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.a, r.m FROM edges e JOIN r ON r.doc = e.b)
        SELECT doc AS doc_id, min(m) AS cluster_id, min(m) = doc AS keep
        FROM r GROUP BY doc""",
      "LSH pairs localCheckpointed + session-cached once; CC restricted to paired docs; left-join re-attaches isolated docs"),
    "q_stratified_sample" -> new Query((s, d) =>
      ops.Corpus.stratifiedSample(tbl(s, d, "documents"), SampleRates), s"""
        SELECT doc_id, lang FROM documents
        WHERE ('0x' || substring(md5(cast(doc_id AS varchar)), 1, 15))::BIGINT % 1000000
          < (CASE lang ${rateCaseSql("\n" + " " * 23)})""",
      "row-local ppm hash gate, pushdown-able predicate"),
    "q_pack_sequences" -> { val (budget, shards) = (512, 8); new Query((s, d) =>
      ops.Corpus.packSequences(tbl(s, d, "documents"), budget, shards), s"""
        WITH t AS (SELECT doc_id, doc_id % $shards AS shard,
                          len(${toks("text")}) AS n_tokens FROM documents),
        c AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM t)
        SELECT doc_id, shard, cast(cum_before // $budget AS BIGINT) AS pack_id, n_tokens FROM c""",
      "per-shard window cumsum, exactly one shuffle") },
    "q_domain_mix" -> new Query((s, d) => ops.Corpus.domainMix(tbl(s, d, "documents")), s"""
        WITH a AS (SELECT lang, source, count(*) AS n_docs,
                          cast(sum(len(${toks("text")})) AS BIGINT) AS n_tokens
                   FROM documents GROUP BY 1, 2)
        SELECT lang, source, n_docs, n_tokens,
               round(n_tokens / sum(n_tokens) OVER (), 6) AS token_share FROM a""",
      "partial-agg shuffle collapses to a tiny per-domain frame"),
    // the COMPOSED curation flow: quality gate -> near-dup survivors ->
    // decontamination vs the doc_id%97 bench slice -> stratified sample
    // -> sequence packing, all one DAG (ops/Corpus.curate)
    // the composed curation flow (gate -> dedup survivors ->
    // decontaminate -> stratified sample -> pack), every stage the same
    // arithmetic as its standalone oracle; train = the non-bench slice,
    // bench = doc_id % 97 = 0 (q_decontaminate's split)
    "q_curate" -> { val (minTokens, budget, shards) = (10, 512, 8); new Query((s, d) => {
      val docs = docsS(s, d)
      // dupPairs = the session-cached whole-corpus pair table; curate
      // restricts it to its gated slice (pairwise restriction equivalence,
      // see Corpus.gatedPairs) instead of re-deriving the LSH DAG
      ops.Corpus.curate(docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        SampleRates, minTokens, MinhashJaccard, budget, shards,
        dupPairs = Some(minhashPairs(s, d)),
        benchFilter = Some(benchBloom97(s, d)),
        docShingles = Some(shingleHashes3(s, d)))
    }, s"""
        WITH RECURSIVE
        gated AS (SELECT * FROM documents
                  WHERE doc_id % 97 <> 0 AND len(${toks("text")}) >= $minTokens),
        $curateCleanCtes,
        samp AS (SELECT * FROM clean
                 WHERE ('0x' || substring(md5(cast(doc_id AS varchar)), 1, 15))::BIGINT % 1000000
                   < (CASE lang ${rateCaseSql("\n" + " " * 32)})),
        pt AS (SELECT doc_id, doc_id % $shards AS shard,
                      len(${toks("text")}) AS n_tokens FROM samp),
        pc AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM pt)
        SELECT doc_id, shard, cast(cum_before // $budget AS BIGINT) AS pack_id, n_tokens
        FROM pc""",
      "composed curation DAG; stage boundaries: [gate: row-local quality filter, zero shuffle] -> [cluster survivors: MinHash band shuffle restricted to gated docs] -> [decontaminate: broadcast shingle join] -> [sample: row-local ppm hash] -> [pack: one window cumsum shuffle]; every stitch a doc_id equi-join") },
    // DSIR-targeted curation: gate -> dedup survivors -> decontaminate,
    // then importance-resample the 100 most target-like survivors
    // (target = the doc_id%23 slice) instead of per-language rates
    // mirrors Corpus.curateDsir: the q_curate chain through `clean`
    // (gate additionally excludes the %23 target slice), then the
    // q_dsir chain fit target-vs-CLEAN (λ on the full 1024-bucket
    // domain, micro-nat integers, md5-Gumbel top-k), then packing
    "q_curate_dsir" -> { val (k, minTokens, budget, shards) = (100, 10, 512, 8)
      new Query((s, d) => {
      val docs = docsS(s, d)
      ops.Corpus.curateDsir(
        docs.where(col("doc_id") % 97 =!= 0 && col("doc_id") % 23 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        docs.where(col("doc_id") % 23 === 0),
        k, minTokens, MinhashJaccard, budget, shards,
        dupPairs = Some(minhashPairs(s, d)),
        benchFilter = Some(benchBloom97(s, d)),
        docShingles = Some(shingleHashes3(s, d)))
    }, {
        val u = OracleSql.polyHashSql("feat")
        val m = TextStats.DsirBuckets
        s"""
        WITH RECURSIVE
        gated AS (SELECT * FROM documents
                  WHERE doc_id % 97 <> 0 AND doc_id % 23 <> 0
                    AND len(${toks("text")}) >= $minTokens),
        $curateCleanCtes,
        ctk AS (SELECT doc_id, ${toks("lower(text)")} AS toks FROM clean),
        ttk AS (SELECT doc_id, ${toks("lower(text)")} AS toks FROM documents
                WHERE doc_id % 23 = 0),
        cft AS (SELECT doc_id, unnest(toks) AS feat FROM ctk
                UNION ALL
                SELECT doc_id, toks[i] || ' ' || toks[i+1] AS feat
                FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM ctk) x),
        tft AS (SELECT doc_id, unnest(toks) AS feat FROM ttk
                UNION ALL
                SELECT doc_id, toks[i] || ' ' || toks[i+1] AS feat
                FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM ttk) x),
        cu0 AS (SELECT doc_id, $u AS u0 FROM cft),
        chb AS MATERIALIZED (SELECT doc_id,
               ((${OracleSql.mixSql("u0")})::HUGEINT % $m)::BIGINT AS b FROM cu0),
        tu0 AS (SELECT doc_id, $u AS u0 FROM tft),
        thb AS MATERIALIZED (SELECT doc_id,
               ((${OracleSql.mixSql("u0")})::HUGEINT % $m)::BIGINT AS b FROM tu0),
        tcn AS (SELECT b, count(*) AS ctn FROM thb GROUP BY 1),
        rcn AS (SELECT b, count(*) AS crn FROM chb GROUP BY 1),
        tot AS (SELECT (SELECT sum(ctn) FROM tcn) AS ttot,
                       (SELECT sum(crn) FROM rcn) AS rtot),
        lam AS (SELECT g.b,
                 (floor(ln((coalesce(ctn, 0) + 1)::DOUBLE / (ttot + $m)::DOUBLE) * 1e6 + 0.5)
                - floor(ln((coalesce(crn, 0) + 1)::DOUBLE / (rtot + $m)::DOUBLE) * 1e6 + 0.5))::BIGINT AS lam
                FROM (SELECT unnest(generate_series(0, ${m - 1})) AS b) g
                LEFT JOIN tcn ON g.b = tcn.b LEFT JOIN rcn ON g.b = rcn.b CROSS JOIN tot),
        wz AS (SELECT doc_id, sum(lam)::BIGINT AS logw FROM chb
               JOIN lam USING (b) GROUP BY 1),
        selk AS (SELECT doc_id,
                   (logw + floor(-ln(-ln(((('0x' || substring(md5(cast(doc_id AS varchar)), 1, 15))::BIGINT
                     % 1000000)::DOUBLE + 0.5) / 1e6)) * 1e6 + 0.5)::BIGINT) AS sel_key
                 FROM wz ORDER BY sel_key DESC, doc_id ASC LIMIT $k),
        pt AS (SELECT c.doc_id, c.doc_id % $shards AS shard,
                      len(${toks("c.text")}) AS n_tokens
               FROM clean c JOIN selk USING (doc_id)),
        pc AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM pt)
        SELECT doc_id, shard, cast(cum_before // $budget AS BIGINT) AS pack_id, n_tokens
        FROM pc"""
      },
      "curate chain (gate -> dedup survivors -> decontaminate) with DSIR top-k replacing the rate sample; all stitches doc_id equi-joins") }
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (name, q) => name -> q.build }

  def oracleSql: Map[String, String] =
    catalog.map { case (name, q) => name -> q.oracle }

  /** mixture rates for the checked stratified-sample query (ppm-exact),
    * in the order the oracles' CASE lists them */
  private val SampleRates = scala.collection.immutable.ListMap(
    "en" -> 0.5, "de" -> 0.25, "zh" -> 0.8, "fr" -> 1.0, "es" -> 0.125)

  /** [[SampleRates]] as the oracles' ppm CASE over lang (driver-side
    * math.round(r * 1e6)), two arms per line; unlisted langs keep all */
  private def rateCaseSql(lineBreak: String): String =
    SampleRates.map { case (l, r) => s"WHEN '$l' THEN ${math.round(r * 1e6)}" }
      .grouped(2).map(_.mkString(" ")).mkString(lineBreak) + " ELSE 1000000 END"

  /** (query_id, term) rows for the checked BM25 query — terms from the
    * synthetic corpus vocabulary */
  private val BmQueries = Seq(
    ("q1", "hash"), ("q1", "join"), ("q1", "table"),
    ("q2", "window"), ("q2", "agg"), ("q2", "stream"),
    ("q3", "vector"), ("q3", "scan"), ("q3", "filter"))

  /** the PER-typed canonical subjects: seed set of q_kg_pprank, q_kg_bfs
    * and q_kg_paths */
  private def perSubjects(t: DataFrame): DataFrame =
    t.where(col("subj_type") === "PER").select(col("subj_id").as("entity_id"))

  /** hyperplane-LSH bucket expression over a DOUBLE[] column `emb`,
    * inlining the exact seeded planes; explicit left-assoc +-chains
    * reproduce the Scala dot-product accumulation order bit-for-bit
    * (java.lang.Double.toString round-trips through DuckDB literals).
    */
  private def lshBucketSql(bits: Int, dim: Int, seed: Long): String = {
    val ps = ops.Similarity.planes(bits, dim, seed)
    ps.indices.map { b =>
      val dot = ps(b).zipWithIndex
        .map { case (p, i) => s"($p) * emb[${i + 1}]" }.mkString(" + ")
      s"(CASE WHEN ($dot) >= 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** inline the seeded IVF centroids as a DuckDB VALUES table */
  private def ivfCentSql(cells: Int, dim: Int, seed: Long): String = {
    val cs = ops.Similarity.ivfCentroids(cells, dim, seed)
    cs.zipWithIndex.map { case (v, i) =>
      s"($i, [${v.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n")
  }

  /** one subspace's PQ codebook as a DOUBLE[][] literal (16 × subdim) */
  private def pqLutSql(m: Int, ksub: Int, subdim: Int, seed: Long): Seq[String] = {
    val subs = ops.Similarity.pqSubCentroids(m, ksub, subdim, seed)
    subs.toSeq.map(cb =>
      cb.map(v => s"[${v.mkString(", ")}]").mkString("[", ", ", "]::DOUBLE[][]"))
  }

  // Tok's backslashes are literal inside single-quoted SQL strings
  private def toks(c: String) = s"regexp_extract_all($c, '$Tok')"
  // the q_dup_spans island chain (t .. isl): md5 of every k-token gram,
  // grams seen in >= minDocs docs, per-doc gaps-and-islands merge of
  // their [pos, pos+k-1] spans; shared with q_remove_dup_spans
  private def dupIslandCtes(k: Int, minDocs: Int): String = s"""
        WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS w FROM documents),
        g AS (SELECT doc_id, i - 1 AS pos,
                md5(array_to_string(w[i:i+${k - 1}], ' ')) AS gram
              FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${k - 2})) AS i
                    FROM t WHERE len(w) >= $k)),
        d AS (SELECT gram FROM g GROUP BY gram
              HAVING count(DISTINCT doc_id) >= $minDocs),
        h AS (SELECT doc_id, CAST(pos AS BIGINT) AS s,
                     CAST(pos + ${k - 1} AS BIGINT) AS e FROM g JOIN d USING (gram)),
        f AS (SELECT doc_id, s, e,
                CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS ni FROM h),
        isl AS (SELECT doc_id, s, e,
                  sum(ni) OVER (PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM f)"""
  // corpus bigram counts with a count floor: the one oracle of both
  // n-gram count variants
  private def bigramCountsSql(minCount: Int): String = s"""
        SELECT ngram, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS ngram
          FROM (SELECT ${toks("lower(text)")} AS w FROM documents))
        GROUP BY ngram HAVING count(*) >= $minCount"""
  // add-one bigram LM chain ending in sc(doc_id, mn): per-bigram integer
  // micro-nats, shared by q_lm_perplexity and q_ccnet_buckets
  private def bigramLmCtes: String = s"""
        WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS w FROM documents),
        bi AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
               FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)),
        big AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        uni AS MATERIALIZED (SELECT w1, count(*) AS c1
               FROM (SELECT unnest(w) AS w1 FROM t) GROUP BY 1),
        vv AS (SELECT count(*) AS v FROM uni),
        sc AS (SELECT doc_id,
                 floor(ln((coalesce(c12, 0) + 1)::DOUBLE /
                          (coalesce(c1, 0) + v)::DOUBLE) * 1000000 + 0.5)::BIGINT AS mn
               FROM bi LEFT JOIN big USING (w1, w2) LEFT JOIN uni USING (w1)
               CROSS JOIN vv)"""
  // the curate chain after `gated`: near-dup pairs among the gated docs,
  // CC survivors, then decontamination against the doc_id % 97 bench
  // slice, ending in clean(*); shared by q_curate and q_curate_dsir
  private def curateCleanCtes: String = s"""${minhashPairsCtesFrom("gated")},
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        r(doc, m) AS (
          SELECT doc_id, doc_id FROM gated
          UNION
          SELECT e.a, r.m FROM edges e JOIN r ON r.doc = e.b),
        surv AS (SELECT doc FROM r GROUP BY doc HAVING min(m) = doc),
        bsh AS (SELECT DISTINCT array_to_string(tk[gs+1:gs+$ShingleN], ' ') AS shingle
                FROM (SELECT tk, unnest(generate_series(0, greatest(len(tk)-$ShingleN, 0))) AS gs
                      FROM (SELECT ${toks("lower(text)")} AS tk FROM documents
                            WHERE doc_id % 97 = 0))),
        hits AS (SELECT DISTINCT s.doc_id
                 FROM sh s JOIN surv ON surv.doc = s.doc_id
                 JOIN bsh USING (shingle)),
        clean AS (SELECT g.* FROM gated g JOIN surv ON surv.doc = g.doc_id
                  WHERE g.doc_id NOT IN (SELECT doc_id FROM hits))"""
  // MinHash-LSH verified dup pairs as a reusable CTE chain ending in
  // `pairs(doc_a, doc_b, jaccard)` — shared by q_minhash_dups and the
  // connected-components clustering oracle
  private def minhashPairsCtes: String = minhashPairsCtesFrom("documents")
  // BPE trainer chain mirroring TextStats.bpeMerges: adjacent-pair
  // counts weighted by word frequency (overlapping positions count),
  // argmax with (cnt desc, l, r) tie-break, left-to-right
  // NON-overlapping greedy rewrite via a singleton-list fold. The word
  // string rides through the fold so wN doubles as the APPLIED vocab
  // for the encode/pack oracles. Ends at b1..bN (per-round winners)
  // and wN (word -> final piece array).
  private def bpeCtes(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""p$i AS (SELECT syms[i] AS l, syms[i+1] AS r, sum(n) AS cnt
             FROM (SELECT syms, n, unnest(range(1, len(syms))) AS i
                   FROM w${i - 1}) x
             GROUP BY 1, 2),
        b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i
             ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        w$i AS MATERIALIZED (SELECT w.w, w.n,
             list_reduce([[s] FOR s IN w.syms], (acc, x) ->
               CASE WHEN acc[-1] = b.l AND x[1] = b.r
                    -- acc[:len(acc)-1]: DuckDB slices are 1-based and
                    -- INCLUSIVE, so [:-1] would KEEP the last element
                    THEN acc[:len(acc)-1] || [b.l || b.r]
                    ELSE acc || x END) AS syms
           FROM w${i - 1} w CROSS JOIN b$i b)"""
    }.mkString(",\n        ")
    s"""wrd AS (SELECT w, count(*) AS n FROM
             (SELECT unnest(${toks("lower(text)")}) AS w FROM documents) t
           GROUP BY 1),
        w0 AS MATERIALIZED (SELECT w, n, string_split(w, '') AS syms FROM wrd),
        $steps"""
  }
  private def bpeOuts(rounds: Int): String =
    (1 to rounds).map(i =>
      s"""SELECT $i AS round, l AS "left", r AS "right", cnt::BIGINT AS cnt FROM b$i""")
      .mkString("\n           UNION ALL ")
  private def minhashPairsCtesFrom(src: String,
      candCond: String = "a.doc_id < b.doc_id") = s"""
        t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM $src),
        g AS (SELECT doc_id, tk, unnest(generate_series(0, greatest(len(tk)-$ShingleN, 0))) AS gs FROM t),
        sh AS (SELECT DISTINCT doc_id, array_to_string(tk[gs+1:gs+$ShingleN], ' ') AS shingle FROM g),
        hb AS (SELECT doc_id, ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 2147483647 AS h FROM sh),
        mh AS (SELECT doc_id, k,
                 min((((2654435761 * (k+1)) % 2147483647) * h + ((40503 * (k+7)) % 2147483647)) % 2147483647) AS mh
               FROM hb, (SELECT unnest(generate_series(0, ${MinhashSlots - 1})) AS k) GROUP BY 1, 2),
        band AS (SELECT doc_id, k // ${MinhashSlots / MinhashBands} AS band,
                   array_to_string(list_sort(list(k || ':' || mh)), ',') AS bh
                 FROM mh GROUP BY 1, 2),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND $candCond),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
                  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
                  GROUP BY 1, 2),
        pairs AS (
          SELECT doc_a, doc_b, round(i / (sa.sz + sb.sz - i), 6) AS jaccard
          FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
          WHERE round(i / (sa.sz + sb.sz - i), 6) >= $MinhashJaccard)"""
  private def decontSql = s"""
        WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM documents),
        g AS (SELECT doc_id, tk, unnest(generate_series(0, greatest(len(tk)-$ShingleN, 0))) AS gs FROM t),
        sh AS (SELECT DISTINCT doc_id, array_to_string(tk[gs+1:gs+$ShingleN], ' ') AS shingle FROM g),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0)
        SELECT doc_id, count(*) AS n_hits
        FROM train JOIN bench USING (shingle) GROUP BY 1"""
  // unigram DP CTE chain (ucnt..uf) — shared by q_unigram_encode and
  // q_tok_compare; expects bpeCtes(BpeRounds) in scope (wrd, wN)
  private def unigramDpCtes: String = {
    def fxOf(x: String) =
      s"((length(bin($x))-1)*256 + (($x*256) // (1::BIGINT << (length(bin($x))-1))) - 256)"
    val Lmax = 12; val P = 12
    val dps = (1 to Lmax).map { i =>
      val vbr = (math.max(0, i - P) until i).map { j =>
        s"""SELECT u.w, u.score + v.score AS score, u.np + 1 AS np,
               $j AS j, 0 AS pref
             FROM ud$j u JOIN usc v
               ON v.piece = substring(u.w, ${j + 1}, ${i - j})
             WHERE length(u.w) >= $i"""
      }
      val unkBr =
        s"""SELECT u.w, u.score + pm.unk, u.np + 1, ${i - 1}, 1
             FROM ud${i - 1} u CROSS JOIN uparm pm WHERE length(u.w) >= $i"""
      s"""ud$i AS MATERIALIZED (SELECT w, $i AS i, score, np, j FROM (
             SELECT *, row_number() OVER (PARTITION BY w
                 ORDER BY pref ASC, score DESC, np ASC, j ASC) AS rn
             FROM (${(vbr :+ unkBr).mkString("\n             UNION ALL\n")}) cb) rb
           WHERE rn = 1)"""
    }.mkString(",\n        ")
    s"""ucnt AS (SELECT piece, sum(n)::BIGINT AS cnt FROM
              (SELECT n, unnest(syms) AS piece FROM w$BpeRounds) x GROUP BY 1),
        utot AS (SELECT sum(cnt)::BIGINT AS total FROM ucnt),
        usc AS MATERIALIZED (SELECT piece, cnt,
              CAST(${fxOf("cnt")} - (SELECT ${fxOf("total")} FROM utot)
                AS BIGINT) AS score FROM ucnt),
        uparm AS (SELECT min(score) - 2560 AS unk FROM usc),
        ud0 AS (SELECT w, 0 AS i, 0::BIGINT AS score, 0::BIGINT AS np,
              -1 AS j FROM wrd),
        $dps,
        uall AS (${(1 to Lmax).map(i => s"SELECT * FROM ud$i").mkString(" UNION ALL ")}),
        uf AS (SELECT u.w, u.score, u.np FROM uall u
              JOIN wrd ww ON ww.w = u.w AND length(ww.w) = u.i)"""
  }
  // ANN twin SQLs hoisted so q_ann_recall can nest them as CTEs
  private def annTopkSql = s"""
        SELECT * FROM (
          SELECT q.vec_id AS query_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, e.vec_id ASC) AS rank,
                 e.vec_id AS neighbor_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos
          FROM embeddings e JOIN embeddings q ON q.vec_id % 97 = 0 AND e.vec_id <> q.vec_id)
        WHERE rank <= $AnnK"""
  private def annLshSql = {
    val bucket = lshBucketSql(LshBits, EmbDim, LshSeed)
    s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        b AS (SELECT vec_id, emb, ($bucket) AS bucket FROM e),
        q AS (SELECT vec_id AS query_id, emb AS q_emb, bucket AS q_bucket
              FROM b WHERE vec_id % 97 = 0),
        scored AS (
          SELECT query_id, b.vec_id AS neighbor_id,
                 list_cosine_similarity(b.emb, q.q_emb) AS cos
          FROM b JOIN q ON b.bucket = q.q_bucket AND b.vec_id <> q.query_id)
        SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored)
        WHERE rank <= $AnnK"""
  }
  private def annIvfSql = {
    // same seeded centroids as Similarity.annIvf: nearest-cell
    // assignment per vector, nprobe=4 probed cells per query, exact
    // cosine re-rank within probed cells
    s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        cent(cell, cv) AS (VALUES ${ivfCentSql(IvfCells, EmbDim, IvfSeed)}),
        cells AS (SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.emb, c.cv) DESC, c.cell ASC) AS rn
            FROM e CROSS JOIN cent c) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id % 97 = 0),
        qcells AS (SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY list_cosine_similarity(q.q_emb, c.cv) DESC, c.cell ASC) AS rn
            FROM q CROSS JOIN cent c) WHERE rn <= $IvfProbe),
        scored AS (
            SELECT qc.query_id, ec.vec_id AS neighbor_id,
                   list_cosine_similarity(e2.emb, q.q_emb) AS cos
            FROM cells ec JOIN qcells qc ON ec.cell = qc.cell
            JOIN e e2 ON e2.vec_id = ec.vec_id
            JOIN q ON q.query_id = qc.query_id
            WHERE ec.vec_id <> qc.query_id)
        SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos FROM (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored)
        WHERE rank <= $AnnK"""
  }
}
