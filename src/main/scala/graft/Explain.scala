package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Plan auditor: dumps formatted physical plans for the FULL query catalog
  * into PLANS.md so scan pruning / pushdown / join strategies are
  * reviewable per query. args = sfDir outFile
  */
object Explain {
  // one-line audit note per query: what the plan is supposed to look like.
  val notes: Map[String, String] = Map(
    "q_tok_count" -> "scan: column pruning to (doc_id, text); zero shuffle",
    "q_dedup_exact" -> "hash-aggregate on md5; two-phase (partial + final)",
    "q_jaccard_pairs" -> "shingle-blocked self-join; no BNLJ",
    "q_minhash_dups" -> "wide-agg signatures, band equi-join, exact verify inside bands",
    "q_ann_topk" -> "broadcast query rows + window top-k",
    "q_ann_lsh" -> "hyperplane buckets, native hyperplane_sig expression",
    "q_ann_ivf" -> "centroid cells, native ivf_cell/ivf_probe exprs",
    "q_ann_ivfpq" -> "PQ codes + ADC scoring; raw embeddings move only at top-R rerank",
    "q_embed_dups" -> "multi-table LSH blocking, cosine verify inside buckets, no BNLJ",
    "q_join_agg" -> "broadcast dim join into a two-phase agg",
    "q_triples_canonical" -> "full KG pipeline: ONE fused MapPartitions object stage, broadcast probes, zero Exchange until the KG joins",
    "q_salted_wordcount" -> "two-phase salted agg: salted partial, unsalted final",
    "q_decontaminate" -> "broadcast shingle collision join against the eval-set dictionary",
    "q_repetition" -> "row-local ratios, zero shuffle",
    "q_media_features" -> "real PNG decode in mapPartitions; binary column never shuffled",
    "q_audio_features" -> "real WAV decode, lock-free SPI providers",
    "q_video_frames" -> "real multi-frame GIF decode (non-GIF codecs are documented stubs)",
    "q_morph_feats" -> "MapType explode over the fused NLP pipeline stage",
    "q_stratified_sample" -> "row-local ppm hash gate, pushdown-able predicate",
    "q_dsir" -> "DSIR: 1024-bucket broadcast lambda table, per-doc integer micro-nat sums, TakeOrdered Gumbel-top-k",
    "q_curate_dsir" -> "curate chain (gate -> dedup survivors -> decontaminate) with DSIR top-k replacing the rate sample; all stitches doc_id equi-joins",
    "q_pack_sequences" -> "per-shard window cumsum, exactly one shuffle",
    "q_domain_mix" -> "partial-agg shuffle collapses to a tiny per-domain frame",
    "q_pii_scrub" -> "pure codegen regex projection, zero shuffle",
    "q_ngram_counts" -> "explode + two-phase hash agg; token array materialized before the gram lambda",
    "q_ngram_counts_hashed" -> "8-byte-key count shuffle + ObjectHashAggregate text recovery (~4x shuffle cut)",
    "q_dup_spans" -> "gram agg + hit join + per-doc island windows (suffix-style dup spans)",
    "q_kg_pagerank" -> "iterative rank joins, lineage truncated per superstep",
    "q_kg_twohop" -> "hop equi-join: the AQE skew-split shape",
    "q_kg_comentions" -> "per-doc blocked pairs: driver count when sum C(n,2) fits, else self-join + two-phase agg",
    "q_asof_join" -> "union + ONE shuffle + running-last window (no per-row range probe)",
    "q_bm25" -> "inverted-index tf + broadcast term semi-join",
    "q_kg_triangles" -> "degree-oriented wedge joins; orientation bounds wedges on hubs",
    "q_length_stats" -> "exact percentile sort-agg per language",
    "q_kg_bfs" -> "frontier-only Pregel supersteps: one equi-join + min-agg per hop",
    "q_kg_neighbor_jaccard" -> "hub-capped wedge pairs: driver count when they fit, else self-join",
    "q_kg_walks" -> "hash-pick composite equi-join per step over dense-ranked neighbor lists",
    "q_lm_perplexity" -> "bigram-LM joins + integer micro-nat agg (partition-order exact)",
    "q_tfidf_top" -> "tf x df equi-join (term-keyed, vocab NOT assumed broadcastable) + per-doc window top-k",
    "q_pmi_colloc" -> "count floor BEFORE unigram joins kills 99% of join volume; broadcast totals",
    "q_kg_hits" -> "broadcast-norm half-step supersteps",
    "q_kg_kcore" -> "degree agg + two semi-joins per peel round",
    "q_kg_adjacency" -> "distinct + degree-capped collect_list export agg (truncated flag, true degree kept)",
    "q_kmeans" -> "broadcast k x d centroids, narrow packed-long argmin assign (HashAggregate, not SortAggregate), k x d update shuffle per iter",
    "q_bpe_merges" -> "distributed pair counts + fold-based greedy rewrite; one-row argmax per round (inherent to BPE)",
    "q_hll_distinct" -> "mix64 registers, lang x 64 sketch shuffle; order/retry independent",
    "q_cms_topk" -> "Count-Min registers: constant 4096-row shuffle + broadcast register join; n_exact is test-scale-only inspection",
    "q_kg_pprank" -> "seed-restart supersteps, lineage-truncated",
    "q_funnel" -> "per-step min-agg + user-keyed equi-join chain; no windows, no self-cross-join",
    "q_retention" -> "two per-user aggs + one equi-join",
    "q_curate" -> "composed curation DAG; stage boundaries: [gate: row-local quality filter, zero shuffle] -> [cluster survivors: MinHash band shuffle restricted to gated docs] -> [decontaminate: broadcast shingle join] -> [sample: row-local ppm hash] -> [pack: one window cumsum shuffle]; every stitch a doc_id equi-join",
    // round-5 additions: the 32 queries previously absent from the audit
    "q_acc_agg" -> "positional zip + one partial/final avg agg; dictionary side broadcast",
    "q_agg_acc" -> "grouped accuracy agg, two-phase HashAggregate",
    "q_bpe_encode" -> "merge table applied over DISTINCT words (one projection per merge); corpus pays a single word-keyed join; piece-id table O(alphabet+rounds)",
    "q_bpe_fertility" -> "same single word-keyed vocab join as encode (pieces never exploded — only size(syms)+length travel); per-lang two-phase agg; integer ppm ratios",
    "q_kg_sample" -> "per-hop sampled adjacency via WindowGroupLimit top-k (hub costs k rows); expansion = frontier equi-joins; output bounded V*prod(fanouts)",
    "q_kg_stories" -> "hub-capped entity-blocked doc pairs (volume sum C(df,2), df<=cap): driver count + union-find when it fits, else self-join, minShared filter BEFORE CC; adaptive union-find",
    "q_kg_entity_cards" -> "one two-sided explode scan feeding 4 aggregates; top-k windows as WindowGroupLimit per (entity, side); entity-id equi-join stitches",
    "q_kg_node2vec" -> "per step: frontier x out-nbrs equi-join + d=1 membership left-join + per-walk windows (partition = one candidate list); no BNLJ",
    "q_kg_signatures" -> "one two-phase hash aggregate over triples; pred-keyed window runs on the aggregated signature table, not the corpus",
    "q_kg_scc" -> "size-adaptive: driver Kosaraju under 2M edges (bit-identical distributed trim+double-min-label fallback, spec-asserted); supersteps are equi-join+min-agg",
    "q_kg_paths" -> "BFS supersteps + min(struct(dist,parent)) merge; parent = min predecessor at dist-1, deterministic path reconstruction",
    "q_kg_wpagerank" -> "weighted-edge set with W pre-joined, persisted once; per iter one equi-join + hash agg; integer (rank*w) div W contract",
    "q_ann_recall" -> "truth-side-driven left equi-joins on (query, neighbor) per method; integer ppm; zero-candidate methods still report 0",
    "q_unigram_encode" -> "Viterbi DP once per DISTINCT word (pinned broadcast score table, the inference shape); corpus pays one word-keyed join like bpe_encode",
    "q_tok_compare" -> "both fertilities read n_pieces off distinct-word vocab tables (no corpus piece explode); per-lang two-phase aggs + one lang join",
    "q_ingest_cusum" -> "CUSUM fold as cumsum - running-min (two windows over the AGGREGATED hourly table, not the corpus); all integer",
    "q_kg_annotation" -> "one two-sided explode + entity-keyed WindowGroupLimit top-k by hash rank; hub entity costs k rows",
    "q_kg_link_coverage" -> "one two-sided explode + one conditional-count hash aggregate; 4-row output",
    "q_fuzzy_decontaminate" -> "cross-table band equi-join (train x bench signatures); bench side tiny at scale -> AQE broadcast; exact-jaccard verify inside candidates",
    "q_bucketed_join" -> "bucketed tables: at sf0.01 the dim side is broadcast (zero shuffle on the fact side); with broadcast disabled the buckets co-locate a ZERO-Exchange SortMergeJoin (SparkSpec 'bucketed tables' case pins that plan)",
    "q_dedup_cluster" -> "LSH pairs localCheckpointed + session-cached once; CC restricted to paired docs; left-join re-attaches isolated docs",
    "q_distinct_sort" -> "distinct rels vocab: two-phase agg + single small sort",
    "q_entities" -> "alias same-as edges -> adaptive CC (driver UF under 2M edges, large-small-star above) -> canonical id join",
    "q_events_window" -> "watermark-shaped tumbling window agg, two-phase",
    "q_fp_norm" -> "normalized-text fingerprint: pure codegen projection + agg, zero extra scan",
    "q_fp_poly" -> "rolling polynomial hash via native poly_hash expression; row-local",
    "q_json_roundtrip" -> "JSONL read -> typed parse -> parquet-shape projection; schema pruned at source",
    "q_kg_communities" -> "LPA supersteps: one neighbor-label agg + argmax join per round, lineage truncated",
    "q_kg_degrees" -> "triple scan pruned to (subj, obj), union + one agg",
    "q_kg_pred_stats" -> "per-predicate count/distinct agg, two-phase",
    "q_langid" -> "char-trigram heuristic, row-local projection, zero shuffle",
    "q_morph_tags" -> "fused pipeline stage -> per-token tag explode; no Exchange before explode",
    "q_ner_spans" -> "fused pipeline stage -> BIO decode -> span rows; no Exchange inside the object stage",
    "q_pack_bpe" -> "packing budget costed in real BPE pieces via size(syms) projection; no piece explode at corpus scale",
    "q_pipeline_tokens" -> "sentenize+tokenize inside the fused object stage; one scan",
    "q_quality" -> "length/punct/stopword ratios: row-local projection, zero shuffle",
    "q_rollup" -> "ROLLUP grouping sets with grouping_id; single Expand + two-phase agg",
    "q_running_total" -> "integer-cents running totals: one window sort per key, deterministic",
    "q_semdedup" -> "kmeans clusters -> cluster+LSH-blocked cosine pairs -> CC survivors; pairs never leave their cluster block",
    "q_sessionize" -> "gap sessionization: one user-keyed window, session ids via cumsum of gap flags",
    "q_simhash" -> "64-bit simhash via native expression + hamming-band self-join",
    "q_span_invariant" -> "groupby-rejoin preserves (kind, text, media_ref, order) exactly; order restored by sort inside group",
    "q_span_passthrough" -> "media spans pass through untouched with lineage; text spans only enter the model stage",
    "q_syntax_parse" -> "fused pipeline stage -> biaffine decode -> head/rel rows",
    "q_topk_orders" -> "window top-k with WindowGroupLimit pushdown (rank filter reaches the window operator)",
    "q_triples" -> "dep-pattern extraction over parsed sents; pattern match row-local after the fused stage",
    "q_uas_las" -> "positional zip of gold vs pred heads + one agg",
    "q_vocab_encode" -> "broadcast vocab get-or-unk projection; row-local",
    "q_bloom_decontaminate" -> "Bloom k-probe pre-filter inside codegen on the UN-distincted shingle stream: the distinct's Exchange shrinks from corpus-sized to hit-sized; trailing broadcast semi-join strips false positives (result-identical to q_decontaminate)",
    "q_length_quantiles" -> "histogram quantile sketch: one narrow two-phase agg over O(maxLen/width) buckets + few-row window; no corpus-scale sort",
    // round-5 extension additions
    "q_nb_quality" -> "NB quality classifier: two token-count aggs full-outer-merged, scoring stream left-joins the llr table (token-keyed shuffle, vocab NOT assumed broadcastable), broadcast single-row totals/prior; integer micro-nat sums",
    "q_skipgram" -> "skip-gram pairs via row-local window lambda (NO positional self-join); only shuffle is the (center,context) two-phase count agg",
    "q_domain_kl" -> "per-domain KL: corpus counts REAGGREGATE the (domain,token) table (no second scan); token-keyed join + broadcast domain totals; integer micro-nat terms",
    "q_knn_graph" -> "all-vectors kNN graph: cell-keyed SHUFFLE equi-join (neither side broadcast — the 10^9x10^9 shape), per-query window top-k",
    "q_remove_dup_spans" -> "dup islands collected per doc (bounded, disjoint) -> ONE doc_id left join -> row-local filter-with-index removal lambda",
    "q_ccnet_buckets" -> "LM-score integer key -> (lang,key) COUNT table -> cumulative window over the SMALL key table (no per-language corpus sort) -> (lang,key) equi-join assigns buckets",
    "q_kg_transe" -> "TransE negatives: two-level dense entity ids (64 parallel bucket windows + broadcast offsets, no global-sort window); probes join the vocab eid-keyed; collision re-pick joins only colliding rows"
  )

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.Explain)\n\n")
    sb.append("Covers the FULL query catalog (" + names.size + " queries). " +
      "Checked per plan: parquet `ReadSchema` pruned to used columns, " +
      "`PushedFilters` present where a filter exists, joins on " +
      "dictionary-scale sides are `BroadcastHashJoin`, the NLP pipeline is " +
      "ONE fused object stage (`MapPartitions` chain, no Exchange until the " +
      "KG joins).\n\n")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"## $name\n\n")
      notes.get(name).foreach(n => sb.append(s"Audit: $n\n\n"))
      sb.append("```\n").append(plan).append("\n```\n\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile (${names.size} queries)")
    spark.stop()
  }
}
