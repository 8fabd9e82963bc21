package graft

import graft.corpus.RuCorpus

/** DuckDB oracle SQL for the NLP+KG pipeline queries.
  *
  * The planted corpus is a pure function of splitmix64 (RuCorpus.mix), and
  * splitmix64 is expressible in DuckDB with HUGEINT wrap emulation + a
  * 32-bit-decomposed multiply. These builders reconstruct the golden
  * triples (RuCorpus.goldenTriples by construction of the grammar) entirely
  * in SQL, so the driver's DuckDB gate value-checks the full distributed
  * pipeline (tokenize -> batched CNN/CRF/biaffine inference -> dep-pattern
  * extraction -> linking -> canonicalization), not just row counts.
  */
object OracleSql {

  /** a * c mod 2^64 with c constant, avoiding INT128 overflow: decompose
    * c = ch*2^32 + cl; (a*ch mod 2^32)*2^32 + a*cl ≡ a*c (mod 2^64).
    */
  private def mulmod(a: String, c: BigInt): String = {
    val ch = c >> 32
    val cl = c & 0xffffffffL
    s"((((($a::HUGEINT * $ch) % 4294967296) * 4294967296 + $a::HUGEINT * $cl)" +
      s" % 18446744073709551616)::UBIGINT)"
  }

  /** splitmix64 over a non-negative SQL expression — bit-exact with
    * RuCorpus.mix (verified over seeds incl. >= 2^63).
    */
  def mixSql(expr: String): String = {
    val z0 = s"(((($expr)::HUGEINT + 11400714819323198485) % 18446744073709551616)::UBIGINT)"
    val x1 = s"(xor($z0, $z0 >> 30))"
    val z1 = mulmod(x1, BigInt("13787848793156543929"))
    val x2 = s"(xor($z1, $z1 >> 27))"
    val z2 = mulmod(x2, BigInt("10723151780598845931"))
    s"xor($z2, $z2 >> 31)"
  }

  /** The engine's poly_hash (h*31 + c over code points) of a string SQL
    * expression, folded unsigned mod 2^64 through HUGEINT. */
  private[graft] def polyHashSql(str: String): String =
    "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      s"[unicode(c)::HUGEINT for c in string_split($str, '')]), " +
      "(h, c) -> (h * 31 + c) % 18446744073709551616)"

  /** polyHashSql as the engine's signed 64-bit value: the unsigned hash
    * converted to BIGINT two's complement. */
  private def polySignedSql(key: String): String = {
    val u = polyHashSql(key) + "::HUGEINT"
    s"((($u) - CASE WHEN ($u) >= 9223372036854775808::HUGEINT " +
      "THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT)"
  }

  private def list(xs: Seq[String]): String =
    xs.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Corpus CTE: one row per generated sentence with the picked words,
    * template id and span order. `docs` counts 20x the sf's documents
    * table (RuCorpus.docCount = sf*1e6 = 20 * |documents|).
    */
  private def corpusCte: String = {
    import RuCorpus._
    s"""
    ids AS (
      SELECT (n.i * 20 + g.j)::UBIGINT AS id
      FROM (SELECT row_number() OVER () - 1 AS i FROM documents) n,
           (SELECT unnest(generate_series(0, 19)) AS j) g),
    hd AS (SELECT id, ${mixSql("id")} AS hdoc FROM ids),
    -- MATERIALIZED: sent is read by med+base (and the media CTEs), base by
    -- every per-template UNION ALL branch (up to 45 refs in q_morph_feats);
    -- without it DuckDB inlines and re-derives the corpus per reference
    -- (q_morph_* / q_syntax_parse cost 59-80 s each at sf0.01 in round 3).
    sent AS MATERIALIZED (
      SELECT id, k
      FROM hd, (SELECT unnest(generate_series(0, 3)) AS k) ks
      WHERE k < 1 + (hdoc >> 4) % 4),
    med AS (
      SELECT s.id, s.k,
             sum(CASE WHEN (${mixSql("s.id * 7919 + j.j")} & 7) = 0
                 THEN 1 ELSE 0 END) AS nmed
      FROM sent s LEFT JOIN (SELECT unnest(generate_series(0, 3)) AS j) j
        ON j.j < s.k
      GROUP BY 1, 2),
    base AS MATERIALIZED (
      SELECT s.id, s.k, (s.k + coalesce(m.nmed, 0))::INT AS span_order,
             h, (h >> 8) % 7 AS t,
             ${list(firstNames)}[((h % 8) + 1)::INT] AS fn,
             ${list(surnames)}[(((h >> 16) % 8) + 1)::INT] AS sn,
             ${list(verbs)}[(((h >> 24) % 8) + 1)::INT] AS vb,
             ${list(objectsAcc)}[(((h >> 32) % 8) + 1)::INT] AS ob,
             ${list(cities)}[(((h >> 40) % 4) + 1)::INT] AS city,
             ${list(orgsSubj)}[(((h >> 16) % 4) + 1)::INT] AS org_s,
             ${list(orgsObj)}[(((h >> 32) % 4) + 1)::INT] AS org_o,
             ${list(apposNouns)}[(((h >> 40) % 4) + 1)::INT] AS prof,
             ${list(govNouns)}[((h % 4) + 1)::INT] AS gov,
             ${list(orgsGen)}[(((h >> 16) % 4) + 1)::INT] AS orgg,
             ${list(predNouns)}[(((h >> 24) % 4) + 1)::INT] AS prd
      FROM (SELECT id, k, ${mixSql("id * 1000003 + k")} AS h FROM sent) s
      LEFT JOIN med m ON m.id = s.id AND m.k = s.k),
    golden AS (
      -- main verb-mediated triple (all verb-root templates)
      SELECT 'd' || id AS docId, span_order AS spanOrder, 0::INT AS sentIdx,
             CASE WHEN t = 2 THEN org_s WHEN t = 5 THEN gov
                  ELSE fn || ' ' || sn END AS subj,
             CASE WHEN t = 2 THEN 'ORG' WHEN t = 5 THEN 'NOUN'
                  ELSE 'PER' END AS subjType,
             vb AS pred,
             CASE WHEN t = 3 THEN org_o ELSE ob END AS obj,
             CASE WHEN t = 3 THEN 'ORG' ELSE 'NOUN' END AS objType
      FROM base WHERE t <= 5
      UNION ALL
      SELECT 'd' || id, span_order, 0::INT,
             fn || ' ' || sn, 'PER', vb || '_в', city, 'LOC'
      FROM base WHERE t = 1
      UNION ALL -- appositive is-triple
      SELECT 'd' || id, span_order, 0::INT,
             fn || ' ' || sn, 'PER', 'is', prof, 'NOUN'
      FROM base WHERE t = 4
      UNION ALL -- genitive of-triple
      SELECT 'd' || id, span_order, 0::INT, gov, 'NOUN', 'of', orgg, 'ORG'
      FROM base WHERE t = 5
      UNION ALL -- copular is-triple
      SELECT 'd' || id, span_order, 0::INT,
             fn || ' ' || sn, 'PER', 'is', prd, 'NOUN'
      FROM base WHERE t = 6)"""
  }

  /** golden triples == engine-extracted triples (PipelineSpec gate) */
  def qTriples: String =
    s"WITH $corpusCte SELECT * FROM golden"

  // ---- per-token NLP outputs ----------------------------------------
  // Token metadata per template, by construction of the grammar: word
  // expression (SQL over base columns), POS, conll tag, dependency rel.
  // Heads: the single verb heads to ROOT (0); every other token heads to
  // the verb (1-based index), per the biaffine scorer's construction.

  private val PPN = ("PROPN", "PROPN|Case=Nom")
  private val VRB = ("VERB", "VERB|Gender=Masc|Number=Sing|Tense=Past")
  private val NACC = ("NOUN", "NOUN|Case=Acc|Gender=Masc|Number=Sing")
  private val LOC = ("PROPN", "PROPN|Case=Loc")
  private val PCT = ("PUNCT", "PUNCT")
  private val ADP = ("ADP", "ADP")
  private val NNOM = ("NOUN", "NOUN|Case=Nom|Gender=Masc|Number=Sing")
  private val PGEN = ("PROPN", "PROPN|Case=Gen")

  /** (wordExpr, (pos, tag), rel, head) per token, per template.
    * head = 1-based token id of the head, 0 = root. These are the TREE
    * attachments the planted biaffine produces: flat/appos -> name head,
    * case -> obl token, nmod -> governor, everything else -> the predicate.
    */
  private val templates: Seq[Seq[(String, (String, String), String, Int)]] = Seq(
    // t0: fn sn vb ob .
    Seq(("fn", PPN, "nsubj", 3), ("sn", PPN, "flat:name", 1),
      ("vb", VRB, "root", 0), ("ob", NACC, "obj", 3), ("'.'", PCT, "punct", 3)),
    // t1: fn sn vb ob в city .
    Seq(("fn", PPN, "nsubj", 3), ("sn", PPN, "flat:name", 1),
      ("vb", VRB, "root", 0), ("ob", NACC, "obj", 3), ("'в'", ADP, "case", 6),
      ("city", LOC, "obl", 3), ("'.'", PCT, "punct", 3)),
    // t2: « org_s » vb ob .
    Seq(("'«'", PCT, "punct", 4), ("org_s", PPN, "nsubj", 4),
      ("'»'", PCT, "punct", 4), ("vb", VRB, "root", 0),
      ("ob", NACC, "obj", 4), ("'.'", PCT, "punct", 4)),
    // t3: fn sn vb « org_o » .
    Seq(("fn", PPN, "nsubj", 3), ("sn", PPN, "flat:name", 1),
      ("vb", VRB, "root", 0), ("'«'", PCT, "punct", 3),
      ("org_o", PPN, "obj", 3), ("'»'", PCT, "punct", 3),
      ("'.'", PCT, "punct", 3)),
    // t4: fn sn , prof , vb ob .
    Seq(("fn", PPN, "nsubj", 6), ("sn", PPN, "flat:name", 1),
      ("','", PCT, "punct", 6), ("prof", NNOM, "appos", 1),
      ("','", PCT, "punct", 6), ("vb", VRB, "root", 0),
      ("ob", NACC, "obj", 6), ("'.'", PCT, "punct", 6)),
    // t5: gov orgg vb ob .
    Seq(("gov", NNOM, "nsubj", 3), ("orgg", PGEN, "nmod", 1),
      ("vb", VRB, "root", 0), ("ob", NACC, "obj", 3), ("'.'", PCT, "punct", 3)),
    // t6: fn sn — prd .
    Seq(("fn", PPN, "nsubj", 4), ("sn", PPN, "flat:name", 1),
      ("'—'", PCT, "punct", 4), ("prd", NNOM, "root", 0),
      ("'.'", PCT, "punct", 4)))

  def qMorphTags: String = {
    val branches = for {
      (toks, t) <- templates.zipWithIndex
      ((w, (pos, tag), _, _), i) <- toks.zipWithIndex
    } yield s"SELECT 'd' || id AS doc_id, span_order, 0::INT AS sent_idx, " +
      s"${i}::INT AS tok_idx, $w AS word, '$pos' AS pos, '$tag' AS tag " +
      s"FROM base WHERE t = $t"
    s"WITH $corpusCte SELECT * FROM (${branches.mkString(" UNION ALL ")})"
  }

  /** Feats as key/value rows: the SQL image of the Spark side's REAL
    * `MapType(String,String)` column (markup.py:105-110 MorphToken.feats,
    * conll.py:14-23 parse) exploded one row per feature pair.
    */
  def qMorphFeats: String = {
    val branches = for {
      (toks, t) <- templates.zipWithIndex
      ((w, (pos, tag), _, _), i) <- toks.zipWithIndex
      kv <- tag.split('|').iterator.drop(1)
    } yield {
      val Array(k, v) = kv.split('=')
      s"SELECT 'd' || id AS doc_id, span_order, 0::INT AS sent_idx, " +
        s"${i}::INT AS tok_idx, $w AS word, '$pos' AS pos, " +
        s"'$k' AS feat, '$v' AS value FROM base WHERE t = $t"
    }
    s"WITH $corpusCte SELECT * FROM (${branches.mkString(" UNION ALL ")})"
  }

  private def syntaxBranches: String = {
    val branches = for {
      (toks, t) <- templates.zipWithIndex
      ((w, _, rel, head), i) <- toks.zipWithIndex
    } yield s"SELECT 'd' || id AS doc_id, span_order, 0::INT AS sent_idx, " +
      s"${i + 1}::INT AS tok_id, $w AS word, " +
      s"${head}::INT AS head_id, '$rel' AS rel " +
      s"FROM base WHERE t = $t"
    branches.mkString(" UNION ALL ")
  }

  def qSyntaxParse: String =
    s"WITH $corpusCte SELECT * FROM ($syntaxBranches)"

  /** UAS/LAS of the left-attach baseline (pred head = previous token, pred
    * rel = constant 'obj') against the pipeline trees, grouped by sentence
    * length — derived from the same per-template token table as
    * qSyntaxParse, so it tracks grammar changes automatically.
    */
  def qUasLas: String = s"""
    WITH $corpusCte,
    sp AS ($syntaxBranches),
    tok AS (
      SELECT count(*) OVER (PARTITION BY doc_id, span_order, sent_idx) AS n_tokens,
             tok_id, head_id, rel
      FROM sp)
    SELECT n_tokens::INT AS n_tokens,
           round(avg(CASE WHEN tok_id - 1 = head_id THEN 1.0 ELSE 0.0 END), 6) AS uas,
           round(avg(CASE WHEN tok_id - 1 = head_id AND rel = 'obj' THEN 1.0 ELSE 0.0 END), 6) AS las
    FROM tok GROUP BY 1"""

  /** NER spans with char offsets from length arithmetic over the rendered
    * sentence (renderer: spaces between words except before ./»/, and
    * after «). All chars are BMP, so DuckDB codepoint lengths == JVM
    * UTF-16 offsets.
    */
  def qNerSpans: String = {
    val per = "length(fn) + 1 + length(sn)"
    val branches = Seq(
      // t0/t1/t3/t4/t6: PER over "fn sn" at offset 0
      s"SELECT 'd' || id AS doc_id, span_order, 0::INT AS sent_idx, 0::INT AS start, " +
        s"($per)::INT AS stop, 'PER' AS tpe, fn || ' ' || sn AS mention " +
        s"FROM base WHERE t IN (0, 1, 3, 4, 6)",
      // t5: ORG over the genitive org: "gov orgg vb ob."
      s"SELECT 'd' || id, span_order, 0::INT, (length(gov) + 1)::INT, " +
        s"(length(gov) + 1 + length(orgg))::INT, 'ORG', orgg " +
        s"FROM base WHERE t = 5",
      // t1: LOC over city: "fn sn vb ob в city."
      s"SELECT 'd' || id, span_order, 0::INT, " +
        s"($per + length(vb) + length(ob) + 5)::INT, " +
        s"($per + length(vb) + length(ob) + 5 + length(city))::INT, 'LOC', city " +
        s"FROM base WHERE t = 1",
      // t2: ORG over org_s: "«org_s» vb ob."
      s"SELECT 'd' || id, span_order, 0::INT, 1::INT, (1 + length(org_s))::INT, " +
        s"'ORG', org_s FROM base WHERE t = 2",
      // t3: ORG over org_o: "fn sn vb «org_o»."
      s"SELECT 'd' || id, span_order, 0::INT, ($per + length(vb) + 3)::INT, " +
        s"($per + length(vb) + 3 + length(org_o))::INT, 'ORG', org_o " +
        s"FROM base WHERE t = 3")
    s"WITH $corpusCte SELECT * FROM (${branches.mkString(" UNION ALL ")})"
  }

  /** Media refs + STAGED splitmix chain h1/h2/h3 = splitmix64^i(fnv1a(ref)).
    *
    * `mixSql` is a textual macro that inlines its argument ×32 (twice per
    * xor/mulmod stage); nesting it used to blow the generated SQL up to
    * 11 MB for the triple-mix video oracle (270 s in DuckDB at sf0.01 —
    * it zeroed round 3's correctness artifact). Staging each application
    * as its own CTE column means the ×32 duplication only ever applies to
    * a plain column name (~3.5 KB per stage) and DuckDB evaluates each
    * stage once per row. Bit-exact with the nested form by construction.
    */
  private def mediaHashCtes: String = {
    val fnv = "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
      "[unicode(c)::HUGEINT for c in string_split(media_ref, '')]), " +
      "(h, c) -> ((xor(h::UBIGINT, c::UBIGINT))::HUGEINT * 1099511628211) " +
      "% 18446744073709551616)::UBIGINT"
    s"""media AS MATERIALIZED (
      SELECT 's3://media/' || id || '/' || k || '.jpg' AS media_ref
      FROM sent WHERE (${mixSql("id * 7919 + k")} & 7) = 0),
    mh0 AS (SELECT media_ref, ($fnv) AS h0 FROM media),
    mh1 AS MATERIALIZED (SELECT media_ref, ${mixSql("h0")} AS h1 FROM mh0),
    mh2 AS MATERIALIZED (SELECT media_ref, ${mixSql("h1")} AS h2 FROM mh1),
    mh3 AS MATERIALIZED (SELECT media_ref, ${mixSql("h2")} AS h3 FROM mh2)"""
  }

  /** The Spark side DECODES real PNG payloads (javax.imageio); this SQL
    * reproduces the image GENERATION formula — dims and gradient-gray
    * offset from splitmix64(fnv1a(ref)), pixel(x,y) = (a+x+y) mod 256 —
    * so equality proves the decode recovered exactly what was encoded.
    */
  def qMediaFeatures: String = {
    s"""
    WITH $corpusCte,
    $mediaHashCtes,
    wh AS (SELECT media_ref,
                  (16 + (h % 16))::INT AS w,
                  (16 + ((h >> 8) % 16))::INT AS hh,
                  ((h >> 16) % 256)::INT AS a
           FROM (SELECT media_ref, h1 AS h FROM mh1)),
    grid AS (SELECT gx.i AS x, gy.i AS y
             FROM (SELECT unnest(generate_series(0, 30)) AS i) gx,
                  (SELECT unnest(generate_series(0, 30)) AS i) gy),
    px AS (SELECT media_ref, sum((a + x + y) % 256)::BIGINT AS s, count(*) AS n
           FROM wh, grid WHERE x < w AND y < hh GROUP BY media_ref)
    SELECT wh.media_ref,
           wh.w AS width,
           wh.hh AS height,
           (wh.w * wh.hh)::BIGINT AS n_px,
           (px.s::DOUBLE / px.n) AS mean_px
    FROM wh JOIN px ON wh.media_ref = px.media_ref"""
  }

  /** The Spark side DECODES real WAV payloads (javax.sound.sampled); this
    * SQL reproduces the audio GENERATION formula — rate/length/offset/step
    * from a SECOND splitmix over fnv1a(ref), sample(i) =
    * ((a + i*step) mod 511) − 255 — so equality proves the decoded PCM is
    * byte-exact.
    */
  def qAudioFeatures: String = {
    s"""
    WITH $corpusCte,
    $mediaHashCtes,
    p AS (SELECT media_ref, h2 AS h FROM mh2),
    prm AS (SELECT media_ref,
                   (CASE WHEN h % 2 = 0 THEN 8000 ELSE 16000 END)::INT AS rate,
                   (500 + ((h >> 8) % 1000))::BIGINT AS n,
                   ((h >> 24) % 256)::BIGINT AS a,
                   (1 + ((h >> 32) % 17))::BIGINT AS step
            FROM p),
    samp AS (SELECT media_ref,
                    abs(((a + i * step) % 511) - 255)::BIGINT AS v
             FROM prm, (SELECT unnest(generate_series(0, 1499)) AS i) g
             WHERE i < n),
    agg AS (SELECT media_ref, sum(v)::BIGINT AS sa, max(v) AS pk
            FROM samp GROUP BY media_ref)
    SELECT prm.media_ref,
           prm.rate AS sample_rate,
           1::INT AS channels,
           prm.n AS n_samples,
           round(prm.n::DOUBLE * 1000 / prm.rate, 6) AS duration_ms,
           round(agg.sa::DOUBLE / prm.n, 6) AS mean_abs,
           agg.pk::INT AS peak_abs
    FROM prm JOIN agg USING (media_ref)"""
  }

  /** The Spark side DECODES real animated-GIF payloads (javax.imageio
    * multi-frame reader); this SQL reproduces the video GENERATION
    * formula — frame count/dims/offset from a THIRD splitmix over
    * fnv1a(ref), frame f pixel(x,y) = (a + 7f + x + y) mod 256 — so
    * equality proves frame extraction and the per-frame rasters are exact.
    */
  def qVideoFrames(everyK: Int): String = {
    s"""
    WITH $corpusCte,
    $mediaHashCtes,
    p AS (SELECT media_ref, h3 AS h FROM mh3),
    prm AS (SELECT media_ref,
                   (4 + (h % 8))::INT AS nf,
                   (12 + ((h >> 8) % 12))::INT AS w,
                   (12 + ((h >> 16) % 12))::INT AS hh,
                   ((h >> 24) % 256)::BIGINT AS a
            FROM p),
    fr AS (SELECT media_ref, f.i AS frame_idx, w, hh, a
           FROM prm, (SELECT unnest(generate_series(0, 10)) AS i) f
           WHERE f.i < nf AND f.i % $everyK = 0),
    px AS (SELECT media_ref, frame_idx,
                  sum((a + 7 * frame_idx + gx.i + gy.i) % 256)::BIGINT AS s,
                  count(*) AS n
           FROM fr, (SELECT unnest(generate_series(0, 22)) AS i) gx,
                    (SELECT unnest(generate_series(0, 22)) AS i) gy
           WHERE gx.i < w AND gy.i < hh GROUP BY media_ref, frame_idx)
    SELECT fr.media_ref, fr.frame_idx::INT AS frame_idx,
           fr.w AS width, fr.hh AS height,
           round(px.s::DOUBLE / px.n, 6) AS f_mean
    FROM fr JOIN px USING (media_ref, frame_idx)"""
  }

  /** linking + canonicalization applied to the goldens in SQL: alias dict
    * inlined, representative = min entity per alias, canonical = min id of
    * the alias-edge connected component (recursive CTE label propagation).
    */
  def qTriplesCanonical: String =
    s"WITH RECURSIVE $triplesCanonicalCtes SELECT * FROM ktriples"

  /** CTE chain (for a `WITH RECURSIVE` prefix) ending in `ktriples` =
    * the canonical triple table, reusable by the KG-analytics oracles. */
  private def triplesCanonicalCtes: String = {
    val vals = RuCorpus.aliasDict
      .map(r => s"('${r.alias}', '${r.entityId}')").mkString(", ")
    s"""$corpusCte,
    dict(alias, entity_id) AS (SELECT * FROM (VALUES $vals) t(alias, entity_id)),
    rep AS MATERIALIZED (SELECT alias, min(entity_id) AS entity_id FROM dict GROUP BY 1),
    nodes AS (SELECT DISTINCT entity_id FROM dict),
    edges AS (SELECT a.entity_id AS src, b.entity_id AS dst
              FROM dict a JOIN dict b ON a.alias = b.alias AND a.entity_id <> b.entity_id),
    reach(rid, r) AS (
      SELECT entity_id, entity_id FROM nodes
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.rid),
    cc AS MATERIALIZED (SELECT rid AS entity_id, min(r) AS comp FROM reach GROUP BY 1),
    linked AS (
      SELECT docId, spanOrder, sentIdx,
             coalesce(rs.entity_id, 'M:' || lower(subj)) AS subjId,
             subjType, pred,
             coalesce(ro.entity_id, 'M:' || lower(obj)) AS objId,
             objType
      FROM golden
      LEFT JOIN rep rs ON rs.alias = lower(subj)
      LEFT JOIN rep ro ON ro.alias = lower(obj)),
    -- MATERIALIZED: the KG-analytics oracles read ktriples 2-4×
    ktriples AS MATERIALIZED (
      SELECT docId, spanOrder, sentIdx,
             coalesce(cs.comp, subjId) AS subj_id, subjType AS subj_type, pred,
             coalesce(co.comp, objId) AS obj_id, objType AS obj_type
      FROM linked
      LEFT JOIN cc cs ON cs.entity_id = subjId
      LEFT JOIN cc co ON co.entity_id = objId)"""
  }

  // ---- KG analytics over ktriples (graft.kg.Analytics oracles) -------

  def qKgDegrees: String = s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    o AS (SELECT subj_id AS entity_id, count(*) AS out_mentions,
                 count(DISTINCT obj_id) AS out_neighbors
          FROM ktriples GROUP BY 1),
    i AS (SELECT obj_id AS entity_id, count(*) AS in_mentions,
                 count(DISTINCT subj_id) AS in_neighbors
          FROM ktriples GROUP BY 1)
    SELECT entity_id,
           coalesce(out_mentions, 0) AS out_mentions,
           coalesce(out_neighbors, 0) AS out_neighbors,
           coalesce(in_mentions, 0) AS in_mentions,
           coalesce(in_neighbors, 0) AS in_neighbors,
           coalesce(out_mentions, 0) + coalesce(in_mentions, 0) AS total_mentions
    FROM o FULL OUTER JOIN i USING (entity_id)"""

  /** Fixed-point integer PageRank, iterations unrolled as chained CTEs
    * (portable: recursive aggregation over a recursive reference is not).
    * Must mirror Analytics.pageRank's exact contract: micro-unit ranks,
    * floor division, damping 150000 + 850/1000. */
  def qKgPagerank(iters: Int): String = {
    // MATERIALIZED everywhere (the q_kg_communities pattern): without it
    // DuckDB inlines the iteration chain and re-derives the upstream
    // corpus+triples pipeline per iteration (184.6 s at sf0.01 in round 3).
    val steps = (1 to iters).map { i =>
      s"""pr$i AS MATERIALIZED (SELECT n.entity_id,
           CAST(150000 + (850 * coalesce(c.s, 0)) // 1000 AS BIGINT) AS "rank"
         FROM knodes n LEFT JOIN (
           SELECT e.dst AS entity_id, sum(p."rank" // d.odeg) AS s
           FROM kedges e JOIN kdeg d ON d.src = e.src
           JOIN pr${i - 1} p ON p.entity_id = e.src GROUP BY 1) c USING (entity_id))"""
    }.mkString(",\n    ")
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    kedges AS MATERIALIZED (SELECT DISTINCT subj_id AS src, obj_id AS dst FROM ktriples
               WHERE subj_id <> obj_id),
    kdeg AS MATERIALIZED (SELECT src, count(*) AS odeg FROM kedges GROUP BY 1),
    -- NB: the union is nested in a derived table on purpose — DuckDB 1.0
    -- gives recursive-union (no dedup) semantics to ANY top-level UNION
    -- in a CTE under WITH RECURSIVE, even without a self-reference.
    knodes AS MATERIALIZED (SELECT DISTINCT entity_id FROM
               (SELECT src AS entity_id FROM kedges
                UNION ALL SELECT dst FROM kedges) un),
    pr0 AS (SELECT entity_id, CAST(1000000 AS BIGINT) AS "rank" FROM knodes),
    $steps
    SELECT entity_id, "rank" FROM pr$iters"""
  }

  /** Personalized PageRank seeded from PER-typed canonical subjects;
    * mirrors Analytics.personalizedPageRank exactly (seed-only teleport,
    * rank_0 = 10^6 on seeds / 0 elsewhere). */
  def qKgPprank(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""ppr$i AS MATERIALIZED (SELECT n.entity_id,
           CAST(n.sd * 150000 + (850 * coalesce(c.s, 0)) // 1000 AS BIGINT) AS "rank"
         FROM kn n LEFT JOIN (
           SELECT e.dst AS entity_id, sum(p."rank" // d.odeg) AS s
           FROM kedges e JOIN kdeg d ON d.src = e.src
           JOIN ppr${i - 1} p ON p.entity_id = e.src GROUP BY 1) c USING (entity_id))"""
    }.mkString(",\n    ")
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    kedges AS MATERIALIZED (SELECT DISTINCT subj_id AS src, obj_id AS dst FROM ktriples
               WHERE subj_id <> obj_id),
    kdeg AS MATERIALIZED (SELECT src, count(*) AS odeg FROM kedges GROUP BY 1),
    kseeds AS (SELECT DISTINCT subj_id AS entity_id FROM ktriples
               WHERE subj_type = 'PER'),
    kn AS MATERIALIZED (SELECT u.entity_id,
           CASE WHEN s.entity_id IS NOT NULL THEN 1 ELSE 0 END AS sd
         FROM (SELECT DISTINCT entity_id FROM
               (SELECT src AS entity_id FROM kedges
                UNION ALL SELECT dst FROM kedges) un) u
         LEFT JOIN kseeds s USING (entity_id)),
    ppr0 AS (SELECT entity_id, CAST(sd * 1000000 AS BIGINT) AS "rank" FROM kn),
    $steps
    SELECT entity_id, "rank" FROM ppr$iters"""
  }

  def qKgComentions(minDocs: Long): String = s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    kment AS (SELECT DISTINCT docId, e FROM
              (SELECT docId, subj_id AS e FROM ktriples
               UNION ALL SELECT docId, obj_id AS e FROM ktriples) un)
    SELECT a.e AS e1, b.e AS e2, count(*) AS n_docs
    FROM kment a JOIN kment b ON a.docId = b.docId AND a.e < b.e
    GROUP BY 1, 2 HAVING count(*) >= $minDocs"""

  /** Undirected matches Analytics.twoHopPaths(undirected = true): the
    * edge set is symmetrized before the hop join. */
  def qKgTwoHop(undirected: Boolean): String = {
    val edge =
      if (undirected) """SELECT DISTINCT subj_id, pred, obj_id FROM
        (SELECT subj_id, pred, obj_id FROM ktriples
         UNION ALL SELECT obj_id AS subj_id, pred, subj_id AS obj_id FROM ktriples) un"""
      else "SELECT DISTINCT subj_id, pred, obj_id FROM ktriples"
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    kedge AS ($edge)
    SELECT x.subj_id AS src, y.obj_id AS dst, count(*) AS n_paths
    FROM kedge x JOIN kedge y ON x.obj_id = y.subj_id
    WHERE x.subj_id <> y.obj_id GROUP BY 1, 2"""
  }

  def qKgPredStats: String = s"""
    WITH RECURSIVE $triplesCanonicalCtes
    SELECT pred, count(*) AS n_triples,
           count(DISTINCT subj_id) AS n_subjects,
           count(DISTINCT obj_id) AS n_objects,
           count(DISTINCT docId) AS n_docs
    FROM ktriples GROUP BY 1"""

  /** Synchronous label propagation, rounds unrolled as chained CTEs.
    * Mirrors Analytics.labelProp's contract exactly: symmetrized distinct
    * edges, neighbor-majority vote, min-label tie-break. */
  def qKgCommunities(iters: Int): String = {
    // every v_i is referenced twice (m_i and l_i): without MATERIALIZED
    // DuckDB inlines the chain and re-evaluates the whole corpus
    // reconstruction 2^iters times
    val steps = (1 to iters).map { i =>
      s"""v$i AS MATERIALIZED (SELECT e.dst AS entity_id, p.label, count(*) AS c
           FROM lpedges e JOIN l${i - 1} p ON p.entity_id = e.src GROUP BY 1, 2),
    m$i AS (SELECT entity_id, max(c) AS mx FROM v$i GROUP BY 1),
    l$i AS (SELECT v.entity_id, min(v.label) AS label
           FROM v$i v JOIN m$i m ON m.entity_id = v.entity_id AND v.c = m.mx
           GROUP BY 1)"""
    }.mkString(",\n    ")
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    lpedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM
                (SELECT subj_id AS src, obj_id AS dst FROM ktriples
                 UNION ALL SELECT obj_id, subj_id FROM ktriples) un
                WHERE src <> dst),
    l0 AS (SELECT DISTINCT src AS entity_id, src AS label FROM lpedges),
    $steps
    SELECT entity_id, label AS community FROM l$iters"""
  }

  /** Per-entity triangle counts over the minDocs=1 co-mention graph —
    * id-ordered wedge enumeration (a<b<c); same triangle set as the
    * engine's degree-ordered orientation. */
  def qKgTriangles: String = s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    kment AS MATERIALIZED (SELECT DISTINCT docId, e FROM
              (SELECT docId, subj_id AS e FROM ktriples
               UNION ALL SELECT docId, obj_id AS e FROM ktriples) un),
    kpairs AS MATERIALIZED (SELECT DISTINCT a.e AS e1, b.e AS e2
               FROM kment a JOIN kment b ON a.docId = b.docId AND a.e < b.e),
    tri AS (SELECT x.e1 AS p, x.e2 AS q, y.e2 AS r
            FROM kpairs x JOIN kpairs y ON y.e1 = x.e2
            JOIN kpairs z ON z.e1 = x.e1 AND z.e2 = y.e2)
    SELECT entity_id, count(*) AS n_triangles FROM
      (SELECT p AS entity_id FROM tri
       UNION ALL SELECT q FROM tri
       UNION ALL SELECT r FROM tri) u
    GROUP BY 1"""

  /** Multi-source BFS hop distances, hops unrolled as min-aggregated
    * MATERIALIZED CTEs; mirrors Analytics.bfsDistances(maxHops,
    * undirected=true) seeded from the PER-typed canonical subjects. */
  def qKgBfs(maxHops: Int): String = {
    val steps = (1 to maxHops).map { i =>
      s"""bd$i AS MATERIALIZED (SELECT entity_id, min(dist) AS dist FROM
           (SELECT entity_id, dist FROM bd${i - 1}
            UNION ALL
            SELECT e.dst, d.dist + 1 FROM bd${i - 1} d
            JOIN bedges e ON e.src = d.entity_id) u
           GROUP BY 1)"""
    }.mkString(",\n    ")
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    bedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM
               (SELECT subj_id AS src, obj_id AS dst FROM ktriples
                UNION ALL SELECT obj_id, subj_id FROM ktriples) un
               WHERE src <> dst),
    bd0 AS MATERIALIZED (SELECT DISTINCT subj_id AS entity_id, 0 AS dist
           FROM ktriples WHERE subj_type = 'PER'),
    $steps
    SELECT entity_id, dist FROM bd$maxHops"""
  }

  /** Mention-weighted PageRank — mirrors Analytics.weightedPageRank:
    * w = triple count per (src, dst), contrib = (rank·w) // W(src),
    * iterations unrolled MATERIALIZED like [[qKgPagerank]]. */
  def qKgWeightedPagerank(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""wpr$i AS MATERIALIZED (SELECT n.entity_id,
           CAST(150000 + (850 * coalesce(c.s, 0)) // 1000 AS BIGINT) AS "rank"
         FROM wpnodes n LEFT JOIN (
           SELECT e.dst AS entity_id, sum((p."rank" * e.w) // d.wsum) AS s
           FROM wpedges e JOIN wpdeg d ON d.src = e.src
           JOIN wpr${i - 1} p ON p.entity_id = e.src GROUP BY 1) c
         USING (entity_id))"""
    }.mkString(",\n    ")
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    wpedges AS MATERIALIZED (SELECT subj_id AS src, obj_id AS dst,
               count(*) AS w FROM ktriples
               WHERE subj_id <> obj_id GROUP BY 1, 2),
    wpdeg AS MATERIALIZED (SELECT src, sum(w) AS wsum FROM wpedges GROUP BY 1),
    wpnodes AS MATERIALIZED (SELECT DISTINCT entity_id FROM
               (SELECT src AS entity_id FROM wpedges
                UNION ALL SELECT dst FROM wpedges) un),
    wpr0 AS (SELECT entity_id, CAST(1000000 AS BIGINT) AS "rank" FROM wpnodes),
    $steps
    SELECT entity_id, "rank" FROM wpr$iters"""
  }

  /** Shortest-path forest — [[qKgBfs]]'s unrolled distances plus the
    * deterministic parent contract: parent(v) = min src among
    * predecessors u with dist(u) = dist(v) - 1; seeds ''. */
  def qKgPaths(maxHops: Int): String = {
    val steps = (1 to maxHops).map { i =>
      s"""pd$i AS MATERIALIZED (SELECT entity_id, min(dist) AS dist FROM
           (SELECT entity_id, dist FROM pd${i - 1}
            UNION ALL
            SELECT e.dst, d.dist + 1 FROM pd${i - 1} d
            JOIN pedges e ON e.src = d.entity_id) u
           GROUP BY 1)"""
    }.mkString(",\n    ")
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    pedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM
               (SELECT subj_id AS src, obj_id AS dst FROM ktriples
                UNION ALL SELECT obj_id, subj_id FROM ktriples) un
               WHERE src <> dst),
    pd0 AS MATERIALIZED (SELECT DISTINCT subj_id AS entity_id, 0 AS dist
           FROM ktriples WHERE subj_type = 'PER'),
    $steps,
    ppar AS (SELECT e.dst AS entity_id, min(e.src) AS parent
           FROM pedges e
           JOIN pd$maxHops u ON u.entity_id = e.src
           JOIN pd$maxHops v ON v.entity_id = e.dst
                AND v.dist = u.dist + 1
           GROUP BY 1)
    SELECT d.entity_id, d.dist, coalesce(p.parent, '') AS parent
    FROM pd$maxHops d LEFT JOIN ppar p ON p.entity_id = d.entity_id"""
  }

  /** Neighborhood-Jaccard entity similarity; mirrors
    * Analytics.neighborJaccard — hub cap applied BEFORE the wedge join,
    * sizes and commons both over the capped sets. */
  def qKgNeighborJaccard(minCommon: Long, hubCap: Long): String = s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    njm AS MATERIALIZED (SELECT DISTINCT e, n FROM
            (SELECT subj_id AS e, obj_id AS n FROM ktriples
             UNION ALL SELECT obj_id, subj_id FROM ktriples) un
            WHERE e <> n),
    njc AS MATERIALIZED (SELECT m.e, m.n FROM njm m
            JOIN (SELECT n FROM njm GROUP BY n
                  HAVING count(*) <= $hubCap) k ON k.n = m.n),
    njsz AS MATERIALIZED (SELECT e, count(*) AS sz FROM njc GROUP BY 1),
    njp AS (SELECT a.e AS e1, b.e AS e2, count(*) AS common
            FROM njc a JOIN njc b ON a.n = b.n AND a.e < b.e
            GROUP BY 1, 2 HAVING count(*) >= $minCommon)
    SELECT e1, e2, common, s1.sz AS sz1, s2.sz AS sz2,
           common::DOUBLE / (s1.sz + s2.sz - common) AS jaccard
    FROM njp JOIN njsz s1 ON s1.e = njp.e1
    JOIN njsz s2 ON s2.e = njp.e2"""

  /** Deterministic random walks, steps unrolled as MATERIALIZED CTEs.
    * Mirrors Analytics.randomWalks exactly: neighbor index = dense rank
    * of dst in src's sorted distinct neighbor list; step choice =
    * pmod(poly_hash('seed:cur:step:walk_no'), odeg) with the SIGNED
    * 64-bit hash (poly accumulates mod 2^64 as UBIGINT, converted to
    * BIGINT two's-complement, then ((h % d) + d) % d = Spark pmod). The
    * per-character hash is staged in its own column per step so it is
    * evaluated once per walk state, not per join probe. */
  def qKgWalks(walksPerStart: Int, walkLen: Int, seed: Long): String = {
    // signed poly_hash of the step-choice key, as a SQL expression over
    // walk-state columns (cur, walk_no) with step/seed inlined literals
    def polySigned(step: Int): String =
      polySignedSql(s"'$seed:' || cur || ':$step:' || walk_no::VARCHAR")
    val steps = (1 to walkLen).map { i =>
      s"""wh$i AS MATERIALIZED (SELECT start, walk_no, cur, odeg,
             ${polySigned(i)} AS h
           FROM w${i - 1} WHERE odeg > 0),
    w$i AS MATERIALIZED (SELECT s.start, s.walk_no, n.dst AS cur,
             coalesce(d.odeg, 0) AS odeg
           FROM wh$i s
           JOIN wnbrs n ON n.src = s.cur
                AND n.idx = ((s.h % s.odeg) + s.odeg) % s.odeg
           LEFT JOIN wdeg d ON d.src = n.dst)"""
    }.mkString(",\n    ")
    val outs = (0 to walkLen).map { i =>
      s"SELECT start, walk_no, $i AS step, cur AS entity_id FROM w$i"
    }.mkString("\n       UNION ALL ")
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    wnbrs AS MATERIALIZED (
      SELECT src, row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
             dst, count(*) OVER (PARTITION BY src) AS odeg
      FROM (SELECT DISTINCT subj_id AS src, obj_id AS dst FROM ktriples
            WHERE subj_id <> obj_id) de),
    wdeg AS MATERIALIZED (SELECT src, max(odeg) AS odeg FROM wnbrs GROUP BY 1),
    w0 AS MATERIALIZED (SELECT w.src AS start, g.wn::INTEGER AS walk_no,
            w.src AS cur, w.odeg
          FROM wdeg w,
            (SELECT unnest(generate_series(0, ${walksPerStart - 1})) AS wn) g),
    $steps
    SELECT start, walk_no, step, entity_id FROM
      ($outs) wout"""
  }

  /** TransE negative samples — mirrors Analytics.transeSamples exactly:
    * dense entity ids by (pmod(poly_hash(e), 64), e) order (the engine's
    * two-level bucket ranking collapses to this one global window at
    * oracle scale), signed poly_hash draw over the chr(1)-joined probe
    * key, +1 re-pick on self-collision.
    */
  def qKgTranse(negatives: Int): String = {
    val probeKey = "'transe' || chr(1) || subj_id || chr(1) || pred || " +
      "chr(1) || obj_id || chr(1) || nn::VARCHAR"
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    te AS MATERIALIZED (SELECT e, row_number() OVER (
            ORDER BY ((${polySignedSql("e")} % 64) + 64) % 64, e) - 1 AS eid
          FROM (SELECT subj_id AS e FROM ktriples
                UNION SELECT obj_id FROM ktriples) u),
    tn AS (SELECT count(*) AS n FROM te),
    tb AS (SELECT DISTINCT subj_id, pred, obj_id FROM ktriples),
    tp AS MATERIALIZED (SELECT subj_id, pred, obj_id, nn AS neg_no,
            CASE WHEN nn % 2 = 0 THEN 'obj' ELSE 'subj' END AS corrupt,
            ((${polySignedSql(probeKey)} % n) + n) % n AS idx, n
          FROM tb CROSS JOIN (SELECT unnest(range(0, $negatives)) AS nn) g
          CROSS JOIN tn),
    tj AS MATERIALIZED (SELECT tp.*, te.e AS neg0
          FROM tp JOIN te ON te.eid = tp.idx)
    SELECT subj_id, pred, obj_id, neg_no, corrupt, neg0 AS neg_id FROM tj
    WHERE neg0 <> CASE WHEN corrupt = 'obj' THEN obj_id ELSE subj_id END
    UNION ALL
    SELECT tj.subj_id, tj.pred, tj.obj_id, tj.neg_no, tj.corrupt,
           e2.e AS neg_id
    FROM tj JOIN te e2 ON e2.eid = (tj.idx + 1) % tj.n
    WHERE tj.neg0 = CASE WHEN tj.corrupt = 'obj' THEN tj.obj_id
                    ELSE tj.subj_id END"""
  }

  /** Fixed-point integer HITS, iterations unrolled as MATERIALIZED CTE
    * half-steps. Mirrors Analytics.hits exactly: micro-unit scores,
    * sum-over-edges raw, max-normalize with floor division
    * (`raw * 10^6 // greatest(max(raw), 1)`), sinks/sources held at 0 by
    * the left join. */
  def qKgHits(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS entity_id, sum(h.score) AS s
           FROM kedges e JOIN hub${i - 1} h ON h.entity_id = e.src GROUP BY 1),
    am$i AS (SELECT greatest(max(s), 1) AS mx FROM ar$i),
    auth$i AS MATERIALIZED (SELECT n.entity_id,
           CAST((coalesce(r.s, 0) * 1000000) // m.mx AS BIGINT) AS score
           FROM knodes n LEFT JOIN ar$i r USING (entity_id) CROSS JOIN am$i m),
    hr$i AS MATERIALIZED (SELECT e.src AS entity_id, sum(a.score) AS s
           FROM kedges e JOIN auth$i a ON a.entity_id = e.dst GROUP BY 1),
    hm$i AS (SELECT greatest(max(s), 1) AS mx FROM hr$i),
    hub$i AS MATERIALIZED (SELECT n.entity_id,
           CAST((coalesce(r.s, 0) * 1000000) // m.mx AS BIGINT) AS score
           FROM knodes n LEFT JOIN hr$i r USING (entity_id) CROSS JOIN hm$i m)"""
    }.mkString(",\n    ")
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    kedges AS MATERIALIZED (SELECT DISTINCT subj_id AS src, obj_id AS dst FROM ktriples
               WHERE subj_id <> obj_id),
    knodes AS MATERIALIZED (SELECT DISTINCT entity_id FROM
               (SELECT src AS entity_id FROM kedges
                UNION ALL SELECT dst FROM kedges) un),
    hub0 AS (SELECT entity_id, CAST(1000000 AS BIGINT) AS score FROM knodes),
    $steps
    SELECT n.entity_id, h.score AS hub, a.score AS auth
    FROM knodes n JOIN hub$iters h USING (entity_id)
    JOIN auth$iters a USING (entity_id)"""
  }

  /** Integer-quantized Lloyd's k-means over the embeddings table,
    * iterations unrolled as MATERIALIZED CTEs. Mirrors Similarity.kmeans
    * exactly: milli-unit quantization (floor(x·1000 + 0.5) as BIGINT),
    * integer squared-L2, truncated-mean centroid updates (`//` = Spark
    * `div`, both truncate toward zero), init = k lowest vec_ids,
    * (d2, cluster) lexicographic tie-break. */
  def qKmeans(k: Int, iters: Int, dim: Int): String =
    s"""
    WITH ${qKmeansCtes(k, iters, dim)}
    SELECT vec_id, cluster, d2 FROM a$iters"""

  /** The k-means iteration chain as reusable CTE text (ends in
    * `a<iters>(vec_id, cluster, d2)`) — q_semdedup re-derives the same
    * assignments before its cluster-blocked pair stage. */
  def qKmeansCtes(k: Int, iters: Int, dim: Int): String = {
    def dist(centTbl: String) = s"""
      SELECT v.vec_id, c.cluster,
             list_sum([ (v.q[j] - c.c[j]) * (v.q[j] - c.c[j])
                        FOR j IN generate_series(1, $dim) ]) AS d2
      FROM qv v CROSS JOIN $centTbl c"""
    def pick(dTbl: String) = s"""
      SELECT vec_id, cluster, d2::BIGINT AS d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2, cluster) AS rn FROM $dTbl) t WHERE rn = 1"""
    val steps = (1 to iters).map { i =>
      s"""cent$i AS MATERIALIZED (SELECT cluster, list(cv ORDER BY pos) AS c FROM (
           SELECT a.cluster, p.j AS pos, sum(v.q[p.j])::BIGINT // count(*) AS cv
           FROM a${i - 1} a JOIN qv v USING (vec_id)
           CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS j) p
           GROUP BY 1, 2) g GROUP BY 1),
    d$i AS (${dist(s"cent$i")}),
    a$i AS MATERIALIZED (${pick(s"d$i")})"""
    }.mkString(",\n    ")
    s"""qv AS MATERIALIZED (
      SELECT vec_id, [floor(x::DOUBLE * 1000 + 0.5)::BIGINT FOR x IN embedding] AS q
      FROM embeddings),
    cent0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, q AS c
      FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $k) t0),
    d0 AS (${dist("cent0")}),
    a0 AS MATERIALIZED (${pick("d0")}),
    $steps"""
  }

  /** Adjacency-list export: per entity, out-degree and the sorted
    * distinct out-neighbor list as a CSV string (scalar-column form of
    * the GNN-export array). */
  def qKgAdjacency: String = s"""
    WITH RECURSIVE $triplesCanonicalCtes
    SELECT subj_id AS entity_id, count(*) AS out_degree,
           array_to_string(list_sort(list(obj_id)), ',') AS neighbors
    FROM (SELECT DISTINCT subj_id, obj_id FROM ktriples
          WHERE subj_id <> obj_id) de
    GROUP BY 1"""

  /** GraphSAGE fan-out sampling — mirrors Analytics.neighborSample
    * exactly: per-hop sampled adjacency = row_number over
    * (poly_hash('sample'␁seed␁hop␁src␁dst) signed, dst) capped at
    * fanouts(h-1), then frontier equi-joins; hops unrolled as
    * MATERIALIZED CTEs. */
  def qKgNeighborSample(fanouts: Seq[Int], seed: Long): String = {
    val samp = fanouts.zipWithIndex.map { case (k, i) =>
      val key = s"'sample' || chr(1) || '$seed' || chr(1) || '${i + 1}'" +
        " || chr(1) || src || chr(1) || dst"
      s"""nss${i + 1} AS MATERIALIZED (SELECT src, dst FROM (
           SELECT src, dst, row_number() OVER (PARTITION BY src
               ORDER BY ${polySignedSql(key)}, dst) AS rn FROM nse) r
         WHERE rn <= $k)"""
    }.mkString(",\n    ")
    val fronts = (1 to fanouts.length).map { h =>
      if (h == 1)
        "nsf1 AS MATERIALIZED (SELECT src AS seed, 1 AS hop, " +
          "src AS parent, dst AS child FROM nss1)"
      else
        s"""nsf$h AS MATERIALIZED (SELECT f.seed, $h AS hop,
             f.child AS parent, s.dst AS child
           FROM nsf${h - 1} f JOIN nss$h s ON s.src = f.child)"""
    }.mkString(",\n    ")
    val outs = (1 to fanouts.length)
      .map(h => s"SELECT seed, hop, parent, child FROM nsf$h")
      .mkString("\n       UNION ALL ")
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    nse AS MATERIALIZED (SELECT DISTINCT subj_id AS src, obj_id AS dst
          FROM ktriples WHERE subj_id <> obj_id),
    $samp,
    $fronts
    $outs"""
  }

  /** Co-entity story clustering — mirrors Analytics.storyClusters: doc
    * pairs sharing >= minShared non-hub entities, transitive closure via
    * recursive min-label CC (the q_dedup_cluster pattern), story_size by
    * window count. */
  def qKgStories(minShared: Long, hubCap: Long): String = s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    stm AS MATERIALIZED (SELECT DISTINCT docId AS doc, e FROM
          (SELECT docId, subj_id AS e FROM ktriples
           UNION ALL SELECT docId, obj_id AS e FROM ktriples) un),
    stk AS MATERIALIZED (SELECT m.doc, m.e FROM stm m
          JOIN (SELECT e FROM stm GROUP BY e
                HAVING count(*) <= $hubCap) k USING (e)),
    stp AS MATERIALIZED (SELECT a.doc AS u, b.doc AS v
          FROM stk a JOIN stk b ON a.e = b.e AND a.doc < b.doc
          GROUP BY 1, 2 HAVING count(*) >= $minShared),
    ste AS (SELECT u, v FROM stp UNION ALL SELECT v, u FROM stp),
    rst(doc, m) AS (
      SELECT doc, doc FROM (SELECT DISTINCT doc FROM stm)
      UNION
      SELECT e.u, rst.m FROM ste e JOIN rst ON rst.doc = e.v),
    stc AS (SELECT doc, min(m) AS story_id FROM rst GROUP BY doc)
    SELECT doc AS doc_id, story_id,
           count(*) OVER (PARTITION BY story_id) AS story_size
    FROM stc"""

  /** node2vec-style biased walks — mirrors Analytics.node2vecWalks:
    * per-step candidate table (frontier × out-neighbors), integer
    * milli-weights (returnWeight on x=prev, 1000 on d=1 membership,
    * inOutWeight otherwise; step 1 uniform 1000), cumulative-weight slot
    * pick at pmod(poly_hash('n2v'␁seed␁step␁walk_no␁prev␁cur), Σw);
    * steps unrolled as MATERIALIZED CTEs. */
  def qKgNode2vec(walksPerStart: Int, walkLen: Int, returnWeight: Long,
                  inOutWeight: Long, seed: Long): String = {
    val steps = (1 to walkLen).map { i =>
      val wExpr =
        if (i == 1) "1000::BIGINT"
        else s"""CASE WHEN e.dst = s.prev THEN ${returnWeight}::BIGINT
                 WHEN m.has = 1 THEN 1000::BIGINT
                 ELSE ${inOutWeight}::BIGINT END"""
      val key = s"'n2v' || chr(1) || '$seed' || chr(1) || '$i' || chr(1)" +
        " || walk_no::VARCHAR || chr(1) || prev || chr(1) || cur"
      s"""nc$i AS (SELECT s.start, s.walk_no, s.prev, s.cur, e.dst AS x,
             $wExpr AS w
           FROM nv${i - 1} s JOIN nvedges e ON e.src = s.cur
           LEFT JOIN (SELECT src AS msrc, dst AS mx, 1 AS has
                      FROM nvedges) m
             ON m.msrc = s.prev AND m.mx = e.dst),
    nw$i AS (SELECT *, sum(w) OVER (PARTITION BY start, walk_no
               ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum,
             sum(w) OVER (PARTITION BY start, walk_no) AS tot FROM nc$i),
    nh$i AS (SELECT *, ((${polySignedSql(key)} % tot) + tot) % tot AS r
           FROM nw$i WHERE tot > 0),
    nv$i AS MATERIALIZED (SELECT start, walk_no, cur AS prev, x AS cur
           FROM nh$i WHERE cum - w <= r AND r < cum)"""
    }.mkString(",\n    ")
    val outs = (0 to walkLen).map { i =>
      s"SELECT start, walk_no, $i AS step, cur AS entity_id FROM nv$i"
    }.mkString("\n       UNION ALL ")
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    nvedges AS MATERIALIZED (SELECT DISTINCT subj_id AS src, obj_id AS dst
          FROM ktriples WHERE subj_id <> obj_id),
    nv0 AS MATERIALIZED (SELECT src AS start, wn::INTEGER AS walk_no,
            src AS prev, src AS cur
          FROM (SELECT DISTINCT src FROM nvedges) s,
            (SELECT unnest(generate_series(0, ${walksPerStart - 1})) AS wn) g),
    $steps
    $outs"""
  }

  /** Strongly connected components — independent contract evaluation:
    * recursive forward closure, mutual pairs (v→*u AND u→*v), scc_id =
    * min peer (self included), size by window. The engine computes the
    * same fixpoint via Kosaraju / trim+double-min-label — entirely
    * different algorithms, same pure function of the edge set. */
  def qKgScc: String = s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    sce AS MATERIALIZED (SELECT DISTINCT subj_id AS src, obj_id AS dst
          FROM ktriples WHERE subj_id <> obj_id),
    scn AS (SELECT DISTINCT e FROM
          (SELECT src AS e FROM sce UNION SELECT dst FROM sce) u),
    scr(a, b) AS (SELECT src, dst FROM sce
          UNION
          SELECT scr.a, e.dst FROM scr JOIN sce e ON e.src = scr.b),
    scm AS (SELECT n.e AS v, n.e AS u FROM scn n
          UNION
          SELECT f.a AS v, f.b AS u FROM scr f
          JOIN scr g ON g.a = f.b AND g.b = f.a),
    scc AS (SELECT v, min(u) AS scc_id FROM scm GROUP BY v)
    SELECT v AS entity_id, scc_id,
           count(*) OVER (PARTITION BY scc_id) AS scc_size
    FROM scc"""

  /** Annotation sampling — mirrors Analytics.annotationSample: two-sided
    * mention explode, distinct, signed-poly hash rank per entity with
    * the full-column tie order, rank <= k. */
  def qKgAnnotationSample(k: Int, seed: Long): String = {
    val key = s"'ann' || chr(1) || '$seed' || chr(1) || entity_id || " +
      "chr(1) || docId || chr(1) || spanOrder::VARCHAR || chr(1) || " +
      "sentIdx::VARCHAR || chr(1) || pred || chr(1) || other_id || " +
      "chr(1) || role"
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    asm AS MATERIALIZED (SELECT DISTINCT * FROM (
      SELECT subj_id AS entity_id, 'subj' AS role, docId, spanOrder,
             sentIdx, pred, obj_id AS other_id FROM ktriples
      UNION ALL
      SELECT obj_id, 'obj', docId, spanOrder, sentIdx, pred, subj_id
      FROM ktriples) u),
    asr AS (SELECT *, row_number() OVER (PARTITION BY entity_id
             ORDER BY ${polySignedSql(key)} ASC, docId ASC, spanOrder ASC,
               sentIdx ASC, pred ASC, other_id ASC, role ASC) AS pick
           FROM asm)
    SELECT entity_id, pick, role, docId AS doc_id,
           spanOrder AS span_order, sentIdx AS sent_idx, pred, other_id
    FROM asr WHERE pick <= $k"""
  }

  /** Linking coverage — mirrors Analytics.linkCoverage: two-sided
    * mention explode, linked = id NOT LIKE 'M:%', integer ppm. */
  def qKgLinkCoverage: String = s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    lcm AS (SELECT subj_type AS tpe, subj_id AS id FROM ktriples
          UNION ALL SELECT obj_type, obj_id FROM ktriples)
    SELECT tpe, count(*) AS n_mentions,
           count(*) FILTER (WHERE id NOT LIKE 'M:%') AS n_linked,
           CAST((count(*) FILTER (WHERE id NOT LIKE 'M:%') * 1000000)
             // count(*) AS BIGINT) AS linked_ppm
    FROM lcm GROUP BY 1"""

  /** Predicate type-signature induction — mirrors
    * Analytics.predicateSignatures: signature aggregate + per-pred
    * window share in integer ppm (BIGINT cast: DuckDB's window sum is
    * HUGEINT). */
  def qKgSignatures: String = s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    sg AS (SELECT pred, subj_type, obj_type, count(*) AS n_triples,
             count(DISTINCT subj_id || chr(1) || obj_id) AS n_pairs
           FROM ktriples GROUP BY 1, 2, 3)
    SELECT pred, subj_type, obj_type, n_triples, n_pairs,
           CAST((n_triples * 1000000) //
             (sum(n_triples) OVER (PARTITION BY pred)) AS BIGINT)
             AS share_ppm
    FROM sg"""

  /** Entity-card export — mirrors Analytics.entityCards: two-sided
    * mention explode, four aggregates, deterministic (count desc, name
    * asc) majority type and top-k predicate CSVs. */
  def qKgEntityCards(topK: Int): String = s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    ecm AS MATERIALIZED (
      SELECT subj_id AS e, subj_type AS ty, docId, pred,
             TRUE AS isout, obj_id AS other FROM ktriples
      UNION ALL
      SELECT obj_id, obj_type, docId, pred, FALSE, subj_id FROM ktriples),
    ecb AS (SELECT e, count(*) AS n_mentions,
             count(DISTINCT docId) AS n_docs,
             count(DISTINCT CASE WHEN isout THEN other END) AS out_degree,
             count(DISTINCT CASE WHEN NOT isout THEN other END) AS in_degree
           FROM ecm GROUP BY 1),
    ect AS (SELECT e, ty AS entity_type FROM (
             SELECT e, ty, row_number() OVER (PARTITION BY e
                 ORDER BY count(*) DESC, ty) AS rn
             FROM ecm GROUP BY e, ty) r WHERE rn = 1),
    eco AS (SELECT e, string_agg(pred, ',' ORDER BY rn) AS top_preds_out
           FROM (SELECT e, pred, row_number() OVER (PARTITION BY e
                     ORDER BY count(*) DESC, pred) AS rn
                 FROM ecm WHERE isout GROUP BY e, pred) r
           WHERE rn <= $topK GROUP BY e),
    eci AS (SELECT e, string_agg(pred, ',' ORDER BY rn) AS top_preds_in
           FROM (SELECT e, pred, row_number() OVER (PARTITION BY e
                     ORDER BY count(*) DESC, pred) AS rn
                 FROM ecm WHERE NOT isout GROUP BY e, pred) r
           WHERE rn <= $topK GROUP BY e)
    SELECT ecb.e AS entity_id, entity_type, n_mentions, n_docs,
           out_degree, in_degree,
           coalesce(top_preds_out, '') AS top_preds_out,
           coalesce(top_preds_in, '') AS top_preds_in
    FROM ecb JOIN ect USING (e)
    LEFT JOIN eco USING (e) LEFT JOIN eci USING (e)"""

  /** Bounded k-core peeling, rounds unrolled as MATERIALIZED CTEs.
    * Mirrors Analytics.kCore exactly: symmetrized distinct edges, drop
    * nodes with degree < k each round (both endpoints must survive),
    * output survivors with their final in-core degree. */
  def qKgKcore(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""kp$i AS MATERIALIZED (SELECT src FROM kc${i - 1}
           GROUP BY 1 HAVING count(*) >= $k),
    kc$i AS MATERIALIZED (SELECT e.src, e.dst FROM kc${i - 1} e
           JOIN kp$i a ON a.src = e.src
           JOIN kp$i b ON b.src = e.dst)"""
    }.mkString(",\n    ")
    s"""
    WITH RECURSIVE $triplesCanonicalCtes,
    kc0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
            (SELECT subj_id AS src, obj_id AS dst FROM ktriples
             UNION ALL SELECT obj_id, subj_id FROM ktriples) un
            WHERE src <> dst),
    $steps
    SELECT src AS entity_id, count(*) AS degree FROM kc$rounds GROUP BY 1"""
  }
}
