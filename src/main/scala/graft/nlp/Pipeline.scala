package graft.nlp

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.kernel.{WS, Workspace}
import graft.pack.ModelPack
import graft.text._
import scala.collection.mutable.ArrayBuffer

/** One sentence of one text span of one interleaved doc. */
final case class SentRow(docId: String, spanOrder: Int, sentIdx: Int,
                         start: Int, stop: Int, text: String)

/** Full per-sentence annotation produced by one shared inference pass:
  * the three reference pipelines (exec/infer.py NER/Morph/Syntax) fused so
  * the input encoding + embedding + CNN input is computed once per batch.
  */
final case class ParsedSent(
    docId: String, spanOrder: Int, sentIdx: Int, text: String,
    tokens: Array[Token],
    nerSpans: Array[Span],
    morph: Array[MorphTok],
    syn: Array[SynTok])

object Pipeline {

  /** Sequence-length cap: sentences with more tokens are processed in
    * maxSeqLen-token chunks and the predictions re-joined (the reference's
    * oversize chunk-and-rejoin, infer/bert.py:67-91). Bounds the biaffine
    * [B,S,S+1] score tensor — without it one 50k-token line allocates ~10 GB.
    */
  val DefaultMaxSeqLen = 256

  def inferBatch(batch: Seq[SentRow], pack: ModelPack): Seq[ParsedSent] =
    inferBatch(batch, pack, new Workspace)

  /** ws = per-partition scratch pool: the whole forward pass runs without
    * allocating tensors (the measured 32-thread scaling limiter was
    * allocation bandwidth, BASELINE.md round-1 analysis).
    */
  def inferBatch(batch: Seq[SentRow], pack: ModelPack, ws: Workspace,
                 maxSeqLen: Int = DefaultMaxSeqLen): Seq[ParsedSent] = {
    val toks: Array[Array[Token]] = batch.iterator.map(r => Tokenizer.tokenize(r.text)).toArray
    var oversize = false
    var i = 0
    while (i < toks.length && !oversize) { oversize = toks(i).length > maxSeqLen; i += 1 }
    if (!oversize) return inferTokenized(batch, toks, pack, ws)
    // mixed batch: normal rows share one pass; each oversize row is
    // chunk-processed independently (deterministic — its result depends
    // only on its own tokens, preserving batch-composition invariance)
    val out = new Array[ParsedSent](batch.length)
    val normIdx = toks.indices.filter(j => toks(j).length <= maxSeqLen)
    if (normIdx.nonEmpty) {
      val sub = inferTokenized(normIdx.map(batch), normIdx.map(toks).toArray, pack, ws)
      var k = 0
      while (k < normIdx.length) { out(normIdx(k)) = sub(k); k += 1 }
    }
    for (j <- toks.indices if toks(j).length > maxSeqLen)
      out(j) = inferOversize(batch(j), toks(j), pack, ws, maxSeqLen)
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Chunked inference for one oversize sentence: fixed-size token chunks
    * (weighted chop, infer/bert.py:67-80), per-chunk forward passes in
    * bounded sub-batches, predictions re-joined in token order
    * (join_items, infer/bert.py:86-91). Char offsets are preserved (tokens
    * keep their original offsets), head ids are remapped by chunk offset;
    * each chunk decodes its own root — the documented boundary effect of
    * chop-and-rejoin, as in the reference's teacher path.
    */
  private def inferOversize(row: SentRow, ts: Array[Token], pack: ModelPack,
                            ws: Workspace, maxSeqLen: Int): ParsedSent = {
    val chunks = ts.grouped(maxSeqLen).toArray
    val chunkBatch = math.max(1, 8192 / maxSeqLen) // bounds B*S*(S+1) scores
    val parts = chunks.grouped(chunkBatch).flatMap { grp =>
      inferTokenized(grp.toSeq.map(_ => row), grp, pack, ws)
    }.toArray
    val spans = new ArrayBuffer[Span]()
    val morph = new Array[MorphTok](ts.length)
    val syn = new Array[SynTok](ts.length)
    var off = 0
    for (p <- parts) {
      spans ++= p.nerSpans
      val m = p.syn.length
      var i = 0
      while (i < m) {
        morph(off + i) = p.morph(i)
        val s = p.syn(i)
        syn(off + i) = SynTok(off + i + 1, s.text,
          if (s.headId == 0) 0 else off + s.headId, s.rel)
        i += 1
      }
      off += m
    }
    ParsedSent(row.docId, row.spanOrder, row.sentIdx, row.text,
      ts, spans.toArray, morph, syn)
  }

  /** The shared encode + forward + decode pass over pre-tokenized rows. */
  private def inferTokenized(batch: Seq[SentRow], toks: Array[Array[Token]],
                             pack: ModelPack, ws: Workspace): Seq[ParsedSent] = {
    val n = batch.length
    val seqLen = pack.encode(toks, (t: Token) => t.text, ws)
    val padMask = ws.b(WS.PAD_MASK, n * seqLen)
    val valid = ws.b(WS.VALID, n * seqLen)

    // shared embedding + guarded transpose computed ONCE for all 3 trunks
    // when the pack shares the instance (navec weight sharing)
    val sharedXT = if (pack.sharedEmb) pack.ner.encoder.embT(pack.ner.emb, n, seqLen, ws) else null

    // NER: emissions -> CRF Viterbi -> BIO tags -> char spans
    val emissions = pack.ner.forwardT(
      if (sharedXT != null) sharedXT else pack.ner.encoder.embT(pack.ner.emb, n, seqLen, ws),
      n, seqLen, padMask, ws)
    val nerPaths = pack.ner.crf.decode(emissions, n, seqLen, valid, ws)
    // Morph: logits -> masked argmax -> conll tag parse
    val morphLogits = pack.morph.forwardT(
      if (sharedXT != null) sharedXT else pack.morph.encoder.embT(pack.morph.emb, n, seqLen, ws),
      n, seqLen, padMask, ws)
    // Syntax: biaffine head + rel decode
    val (headIds, relIds) = pack.syntax.forwardT(
      if (sharedXT != null) sharedXT else pack.syntax.encoder.embT(pack.syntax.emb, n, seqLen, ws),
      n, seqLen, padMask, valid, ws)

    val out = new ArrayBuffer[ParsedSent](n)
    var b = 0
    while (b < n) {
      val row = batch(b)
      val ts = toks(b)
      val m = ts.length
      val spans = Bio.bioSpansIds(ts, nerPaths(b), m, pack.nerParts, pack.nerTypes)
      val morph = new Array[MorphTok](m)
      var i = 0
      while (i < m) {
        val tagId = graft.kernel.Kernels.argmaxFirst(
          morphLogits, (b * seqLen + i) * pack.morphTags.size, pack.morphTags.size)
        val (pos, feats) = pack.morphParsed(tagId)
        morph(i) = MorphTok(ts(i).text, pos, feats)
        i += 1
      }
      val syn = new Array[SynTok](m)
      i = 0
      while (i < m) {
        syn(i) = SynTok(i + 1, ts(i).text, headIds(b * seqLen + i),
          pack.rels.decode(relIds(b * seqLen + i)))
        i += 1
      }
      out += ParsedSent(row.docId, row.spanOrder, row.sentIdx, row.text,
        ts, spans, morph, syn)
      b += 1
    }
    out.toSeq
  }

  /** Dataset-level pipeline: sentences -> fully parsed sentences.
    * Length bucketing via a BOUNDED in-stream sort buffer (the reference's
    * SortBuffer, encoders/buffer.py:38-47): sort a sliding window of
    * `bufferSize` sentences by token-ish length, then batch — minimizes pad
    * waste with constant memory and NO serialization boundary (the whole
    * sentenize -> infer -> extract chain stays fused at the object level;
    * a DataFrame sortWithinPartitions here would force an encoder
    * round-trip of every row).
    */
  def parse(sents: Dataset[SentRow], bpack: Broadcast[ModelPack],
            batchSize: Int = 64, bufferSize: Int = 4096): Dataset[ParsedSent] = {
    sents.mapPartitions { it =>
      val ws = new Workspace
      it.grouped(bufferSize).flatMap { window =>
        // stable COUNTING sort on text.length: same order TimSort+
        // comparingInt produced (both stable on the same key), but O(n)
        // array passes instead of a lambda invoke per comparison (JFR:
        // the comparator was 2.2% of 32-core pipeline samples)
        val in = window.toArray
        val n = in.length
        val lens = new Array[Int](n)
        var maxL = 0
        var i = 0
        while (i < n) {
          val l = in(i).text.length
          lens(i) = l; if (l > maxL) maxL = l; i += 1
        }
        val start = new Array[Int](maxL + 2)
        i = 0
        while (i < n) { start(lens(i) + 1) += 1; i += 1 }
        i = 1
        while (i <= maxL + 1) { start(i) += start(i - 1); i += 1 }
        val arr = new Array[SentRow](n)
        i = 0
        while (i < n) {
          val l = lens(i); arr(start(l)) = in(i); start(l) += 1; i += 1
        }
        Iterator.range(0, arr.length, batchSize).flatMap { off =>
          inferBatch(scala.collection.immutable.ArraySeq.unsafeWrapArray(
            java.util.Arrays.copyOfRange(arr, off,
              math.min(off + batchSize, arr.length))), bpack.value, ws)
        }
      }
    }(org.apache.spark.sql.Encoders.product[ParsedSent])
  }

  /** Single-threaded oracle for one document's text — the parity reference
    * for the distributed path (analogue of the reference's in-process API,
    * slovnet/api.py:33-38). Uses batch size 1, so equality with the batched
    * distributed output also proves padding/batch-composition invariance.
    */
  def oracleParse(pack: ModelPack, docId: String, spanOrder: Int,
                  text: String): Seq[ParsedSent] = {
    Tokenizer.sentenize(text).zipWithIndex.toSeq.map { case (sent, i) =>
      inferBatch(Seq(SentRow(docId, spanOrder, i, sent.start, sent.stop, sent.text)),
        pack).head
    }
  }
}
