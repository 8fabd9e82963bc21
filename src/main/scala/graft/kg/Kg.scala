package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast
import graft.nlp.ParsedSent
import graft.runtime.SessionCache
import graft.corpus.RuCorpus
import scala.collection.mutable.ArrayBuffer

/** Candidate triple from dependency-pattern matching (graft stage;
  * tree shape per reference markup.py:162-193).
  */
final case class Triple(
    docId: String, spanOrder: Int, sentIdx: Int,
    subj: String, subjType: String,
    pred: String,
    obj: String, objType: String)

final case class LinkedTriple(
    docId: String, spanOrder: Int, sentIdx: Int,
    subjId: String, subjType: String,
    pred: String,
    objId: String, objType: String)

/** linkCanonicalize output row — field names ARE its public column
  * contract (docId, spanOrder, sentIdx, subj_id, subj_type, pred,
  * obj_id, obj_type).
  */
final case class CanonTriple(
    docId: String, spanOrder: Int, sentIdx: Int,
    subj_id: String, subj_type: String,
    pred: String,
    obj_id: String, obj_type: String)

object Kg {

  /** per-thread scratch for the flat:name child index — zeroed on acquire
    * (only the first n slots, and only those that were dirtied is
    * overkill: Arrays.fill of 3n ints is ~free vs allocating them).
    */
  private final class FlatScratch {
    private var first = new Array[Int](64)
    private var next = new Array[Int](64)
    private var last = new Array[Int](64)
    def acquire(n: Int): (Array[Int], Array[Int], Array[Int]) = {
      if (first.length < n) {
        val cap = Integer.highestOneBit(n - 1) << 1
        first = new Array[Int](cap); next = new Array[Int](cap); last = new Array[Int](cap)
      } else {
        java.util.Arrays.fill(first, 0, n, 0)
        java.util.Arrays.fill(next, 0, n, 0)
        java.util.Arrays.fill(last, 0, n, 0)
      }
      (first, next, last)
    }
  }
  private val flatScratch = new ThreadLocal[FlatScratch] {
    override def initialValue(): FlatScratch = new FlatScratch
  }

  /** Dependency-pattern triple extraction over parsed sentences — TREE
    * patterns over `(head_id, rel)` edges (shapes per reference
    * markup.py:162-193), not token positions:
    *  - root    = the token with rel == "root" and head_id == 0
    *  - subj    = nsubj CHILDREN of the root; mentions extend through
    *              flat:name CHILDREN of the mention head (multi-token names)
    *  - verb root: obj children of the root -> (subj, verb, obj);
    *              obl children of the root with a case CHILD
    *              -> (subj, verb_<case>, obl)   [case(P,X) ∧ obl(V,X)]
    *  - nominal root (copular): -> (subj, "is", root mention)
    *  - appos(X, Y): Y appos child of X -> (mention(X), "is", mention(Y))
    *  - nmod(X, Y): Y nmod child of X -> (mention(X), "of", mention(Y))
    * Entity types come from the NER span covering the token.
    * Pure per-sentence flatMap — no shuffle.
    */
  def extract(p: ParsedSent): Seq[Triple] = {
    val syn = p.syn
    val n = syn.length
    var rootIdx = -1
    var i = 0
    while (i < n && rootIdx < 0) {
      if (syn(i).rel == "root" && syn(i).headId == 0) rootIdx = i
      i += 1
    }
    if (rootIdx < 0) return Nil
    val rootId1 = rootIdx + 1 // 1-based id of the root token

    // manual scans — `find`/`filter`/StringBuilder closures were measurable
    // allocation churn at 3M+ triples/sec
    def typeOf(i: Int): String = {
      val spans = p.nerSpans
      val ts = p.tokens(i)
      var k = 0
      while (k < spans.length) {
        val s = spans(k)
        if (s.start <= ts.start && ts.stop <= s.stop) return s.tpe
        k += 1
      }
      "NOUN"
    }

    // flat:name child index, built in ONE pass: per head token its flat
    // children as an intrusive linked list in token order — mention() is
    // then O(children), not O(n) per call (which went quadratic on long
    // chunked sentences with many pattern tokens). Scratch arrays come
    // from a per-thread pool: this flatMap runs at millions of sentences
    // per second and allocation bandwidth is the measured 32-thread
    // scaling limiter (BASELINE.md round-1 analysis).
    val scratch = flatScratch.get()
    val (flatFirst, flatNext, flatLast) = scratch.acquire(n)
    i = 0
    while (i < n) {
      if (syn(i).rel == "flat:name") {
        val h = syn(i).headId - 1
        if (h >= 0 && h < n) {
          if (flatFirst(h) == 0) flatFirst(h) = i + 1
          else flatNext(flatLast(h) - 1) = i + 1
          flatLast(h) = i + 1
        }
      }
      i += 1
    }

    /** token i + its flat:name children (by head edge), in token order. */
    def mention(i: Int): String = {
      var c = flatFirst(i)
      if (c == 0) p.tokens(i).text // single-token mention: no copy
      else {
        val sb = new java.lang.StringBuilder(p.tokens(i).text)
        while (c != 0) {
          sb.append(' ').append(p.tokens(c - 1).text)
          c = flatNext(c - 1)
        }
        sb.toString
      }
    }

    var nSubj = 0
    i = 0
    while (i < n) {
      if (syn(i).rel == "nsubj" && syn(i).headId == rootId1) nSubj += 1
      i += 1
    }
    val out = new ArrayBuffer[Triple](math.max(nSubj * 2, 2))

    if (nSubj > 0) {
      val subjM = new Array[String](nSubj)
      val subjT = new Array[String](nSubj)
      i = 0; var k = 0
      while (i < n) {
        if (syn(i).rel == "nsubj" && syn(i).headId == rootId1) {
          subjM(k) = mention(i); subjT(k) = typeOf(i); k += 1
        }
        i += 1
      }
      val rootIsVerb = p.morph(rootIdx).pos == "VERB"
      if (rootIsVerb) {
        val verb = syn(rootIdx).text
        i = 0
        while (i < n) {
          val rel = syn(i).rel
          if (syn(i).headId == rootId1 && rel == "obj") {
            val om = mention(i); val ot = typeOf(i)
            var s = 0
            while (s < nSubj) {
              out += Triple(p.docId, p.spanOrder, p.sentIdx, subjM(s), subjT(s), verb, om, ot)
              s += 1
            }
          } else if (syn(i).headId == rootId1 && rel == "obl") {
            // case marker = a case CHILD of the obl token (tree pattern)
            var caseIdx = -1
            var j = 0
            while (caseIdx < 0 && j < n) {
              if (syn(j).rel == "case" && syn(j).headId == i + 1) caseIdx = j
              j += 1
            }
            if (caseIdx >= 0) {
              val om = mention(i); val ot = typeOf(i)
              val pred = verb + "_" + p.tokens(caseIdx).text
              var s = 0
              while (s < nSubj) {
                out += Triple(p.docId, p.spanOrder, p.sentIdx, subjM(s), subjT(s), pred, om, ot)
                s += 1
              }
            }
          }
          i += 1
        }
      } else {
        // copular / nominal predicate: (subj, is, root mention)
        val om = mention(rootIdx); val ot = typeOf(rootIdx)
        var s = 0
        while (s < nSubj) {
          out += Triple(p.docId, p.spanOrder, p.sentIdx, subjM(s), subjT(s), "is", om, ot)
          s += 1
        }
      }
    }

    // appositive and genitive-attribute patterns anywhere in the tree
    i = 0
    while (i < n) {
      val rel = syn(i).rel
      if (rel == "appos" || rel == "nmod") {
        val hIdx = syn(i).headId - 1
        if (hIdx >= 0 && hIdx < n) {
          out += Triple(p.docId, p.spanOrder, p.sentIdx,
            mention(hIdx), typeOf(hIdx), if (rel == "appos") "is" else "of",
            mention(i), typeOf(i))
        }
      }
      i += 1
    }
    out.toSeq
  }

  def triples(parsed: Dataset[ParsedSent]): Dataset[Triple] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed.flatMap(extract _)
  }

  /** Alias dictionary as a DataFrame (synthetic Wikidata slice). */
  def aliasDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    RuCorpus.aliasDict.toDF("alias", "entity_id", "tpe")
  }

  /** same-as edges: entity ids sharing an alias (self-join on alias key). */
  def aliasEdges(spark: SparkSession): DataFrame = {
    val d = aliasDf(spark)
    d.as("a").join(d.as("b"), col("a.alias") === col("b.alias") &&
        col("a.entity_id") < col("b.entity_id"))
      .select(col("a.entity_id").as("src"), col("b.entity_id").as("dst"))
      .distinct()
  }

  /** entity_id -> canonical_id (component minimum over alias edges).
    * The dictionary is broadcast-scale by assumption, so the adaptive CC
    * solves it driver-side; cached per session (dict-derived, reusable
    * across buckets and queries).
    */
  private val canonCache = new SessionCache[Unit, DataFrame]
  def canonicalMap(spark: SparkSession): DataFrame =
    canonCache(spark, ()) {
      val edges = aliasEdges(spark)
      val vertices = aliasDf(spark).select(col("entity_id").as("id")).distinct()
      ConnectedComponents.runAdaptive(edges, vertices).cache()
    }

  /** alias -> (linked id, canonical id) as a plain broadcast variable,
    * one per session, from one driver collect. The linked id is the
    * alias's deterministic representative (Spark's min entity_id); the
    * canonical id is that id remapped through the connected-component
    * minimum of [[canonicalMap]], so canonicalizing costs no second
    * probe. The dictionary (`RuCorpus.aliasDict`) already sits whole in
    * driver memory. A DataFrame-join form rebuilds+reships its
    * BroadcastExchange on EVERY action (two broadcast-build jobs and
    * ~0.3-0.5 s of driver-serial time per run measured at 8 executors —
    * an Amdahl tail that caps N->4N scaling no matter how wide the
    * cluster), while an explicit `sc.broadcast` ships once and is
    * memory-mapped by every subsequent job in the session.
    */
  private val aliasMapCache =
    new SessionCache[Unit, Broadcast[java.util.HashMap[String, Array[String]]]]
  private def aliasMap(spark: SparkSession) =
    aliasMapCache(spark, ()) {
      val rows = aliasDf(spark).groupBy("alias").agg(min("entity_id").as("entity_id"))
        .join(canonicalMap(spark), col("entity_id") === col("id"), "left")
        .select(col("alias"), col("entity_id"),
          coalesce(col("component"), col("entity_id")))
        .collect()
      val m = new java.util.HashMap[String, Array[String]](rows.length * 2)
      rows.foreach(r => m.put(r.getString(0), Array(r.getString(1), r.getString(2))))
      spark.sparkContext.broadcast(m)
    }

  /** same simple-casemap as the lower_simple expression — per-codepoint
    * Character.toLowerCase, exactly SimpleCase.lower's mapping (asserted
    * equal in ExtensionsSpec) — but String-native so the object path pays
    * no String<->UTF8String round trip (+12% pipeline CPU when measured
    * through the conversion). Returns the SAME instance when no codepoint
    * changes (entity mentions are typically capitalized, so ~half the
    * values do change).
    */
  private[graft] def normSimple(s: String): String = {
    if (s == null) return s
    val n = s.length
    var i = 0
    // scan for the first cased char; most strings change, but the scan is
    // cheap and the no-change case returns the original instance
    var changeAt = -1
    while (i < n && changeAt < 0) {
      val cp = s.codePointAt(i)
      if (Character.toLowerCase(cp) != cp) changeAt = i
      else i += Character.charCount(cp)
    }
    if (changeAt < 0) return s
    val sb = new java.lang.StringBuilder(n)
    sb.append(s, 0, changeAt)
    i = changeAt
    while (i < n) {
      val cp = s.codePointAt(i)
      sb.appendCodePoint(Character.toLowerCase(cp))
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** Entity id `k` (0 = linked, 1 = canonical) of a normalized mention;
    * unlinkable mentions become literal nodes `M:<norm>`. */
  private def idOf(m: java.util.HashMap[String, Array[String]], norm: String, k: Int): String =
    if (norm == null) null
    else { val e = m.get(norm); if (e != null) e(k) else "M:" + norm }

  /** The one linking probe: a mapPartitions over the session's broadcast
    * alias map, which Catalyst chains onto the extraction flatMap with no
    * serialization boundary — the whole pipeline (scan -> sentenize ->
    * inference -> extract -> link) is ONE object stage and ONE Spark job,
    * with no join, no exchange and no per-action broadcast rebuild.
    * Blocked scoring: the block key IS the normalized alias.
    */
  private def probe[T: Encoder](spark: SparkSession, triples: Dataset[Triple], k: Int)(
      row: (Triple, String, String) => T): Dataset[T] = {
    val bc = aliasMap(spark)
    triples.mapPartitions { it =>
      val m = bc.value
      it.map(t => row(t, idOf(m, normSimple(t.subj), k), idOf(m, normSimple(t.obj), k)))
    }
  }

  /** Entity linking: each mention maps to its alias's min entity_id, or
    * to the literal `M:<norm>` when no alias matches. */
  def link(spark: SparkSession, triples: Dataset[Triple]): Dataset[LinkedTriple] = {
    import spark.implicits._
    probe(spark, triples, 0)((t, s, o) =>
      LinkedTriple(t.docId, t.spanOrder, t.sentIdx, s, t.subjType, t.pred, o, t.objType))
  }

  /** link + canonicalize in the same probe: each linked id remapped to
    * its [[canonicalMap]] component (all entities sharing an alias are in
    * one component); `M:<norm>` literals pass through unchanged.
    */
  def linkCanonicalize(spark: SparkSession, triples: Dataset[Triple]): DataFrame = {
    import spark.implicits._
    probe(spark, triples, 1)((t, s, o) =>
      CanonTriple(t.docId, t.spanOrder, t.sentIdx, s, t.subjType, t.pred, o, t.objType)).toDF()
  }
}
