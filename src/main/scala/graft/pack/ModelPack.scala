package graft.pack

import graft.kernel._

/** Vocabulary: get-or-unk encode, index decode (reference: slovnet/vocab.py:17-39). */
final case class Vocab(items: Array[String]) extends Serializable {
  @transient lazy val itemIds: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](items.length * 2)
    var i = 0
    while (i < items.length) { m.put(items(i), i); i += 1 }
    m
  }
  val unkId: Int = items.indexOf(Vocab.UNK)
  val padId: Int = items.indexOf(Vocab.PAD)
  def encode(item: String): Int = {
    val v = itemIds.get(item)
    if (v == null) unkId else v.intValue()
  }
  def decode(id: Int): String = items(id)
  def size: Int = items.length

  // --- zero-allocation lower+encode (vocab.py:29-31: encode(word.lower()))
  // Open-addressed table over the verbatim items, probed with the hash of
  // the PER-CHAR-LOWERED input — avoids materializing the lowered string
  // per token (the single largest garbage source in the NLP hot loop).
  // Items containing cased uppercase chars can never equal a lowered input,
  // exactly as in `encode(lowerFast(w))`.
  @transient private lazy val probeTable: Vocab.ProbeTable = {
    var cap = 16
    while (cap < items.length * 2) cap <<= 1
    val keys = new Array[String](cap)
    val ids = new Array[Int](cap)
    val mask = cap - 1
    var i = 0
    while (i < items.length) { // later duplicates overwrite (HashMap.put order)
      val s = items(i)
      var h = lowerHash(s) & mask
      var placed = false
      while (!placed) {
        if (keys(h) == null || keys(h) == s) { keys(h) = s; ids(h) = i; placed = true }
        else h = (h + 1) & mask
      }
      i += 1
    }
    new Vocab.ProbeTable(keys, ids, mask)
  }

  private def lowerHash(s: String): Int = {
    var h = 0
    var i = 0
    while (i < s.length) { h = h * 31 + Character.toLowerCase(s.charAt(i)); i += 1 }
    h & 0x7fffffff
  }

  private def eqLower(item: String, word: String): Boolean = {
    if (item.length != word.length) return false
    var i = 0
    while (i < item.length) {
      if (item.charAt(i) != Character.toLowerCase(word.charAt(i))) return false
      i += 1
    }
    true
  }

  /** encode(word.lower()) without allocating the lowered string.
    * Per-char lowering is 1-to-1; full-string lowering (Python str.lower,
    * Shape.lowerFast) is not for U+0130 'İ' (→ "i̇") and is
    * context-sensitive for Greek capital sigma (final 'ς') — fall back to
    * the allocating exact path for words containing those.
    */
  def encodeLower(word: String): Int = {
    var ci = 0
    while (ci < word.length) {
      val c = word.charAt(ci)
      if (c == 'İ' || c == 'Σ') return encode(graft.text.Shape.lowerFast(word))
      ci += 1
    }
    val table = probeTable
    val keys = table.keys
    val ids = table.ids
    val mask = table.mask
    var h = lowerHash(word) & mask
    while (true) {
      val k = keys(h)
      if (k == null) return unkId
      if (eqLower(k, word)) return ids(h)
      h = (h + 1) & mask
    }
    unkId // unreachable
  }
}

object Vocab {
  val UNK = "<unk>"
  val PAD = "<pad>"

  /** encodeLower's open-addressed table, read through plain fields (a
    * destructured tuple would allocate and box `mask` on every token).
    */
  private final class ProbeTable(val keys: Array[String], val ids: Array[Int], val mask: Int)

  /** [PAD, O, B-t, I-t, ...] (reference: slovnet/vocab.py:61-70). */
  def bioTags(types: Seq[String]): Vocab =
    Vocab((Seq(PAD, "O") ++ types.flatMap(t => Seq(s"B-$t", s"I-$t"))).toArray)
}

/** NER model: word+shape emb -> masked CNN -> linear proj -> CRF
  * (reference: slovnet/exec/model.py:296-342).
  */
final case class NerModel(emb: WordShapeEmbedding, encoder: CNNEncoder,
                          proj: Linear, crf: CRF) extends Serializable {
  /** emissions [B,S,T] (allocating path — tests/oracle) */
  def forward(wordIds: Array[Int], shapeIds: Array[Int], batch: Int, seqLen: Int,
              padMask: Array[Boolean]): Array[Float] = {
    val x = emb(wordIds, shapeIds)
    val enc = encoder(x, batch, seqLen, emb.dim, padMask)
    proj(enc, batch * seqLen)
  }

  /** xT = guarded encoder input (CNNEncoder.embT); emissions land in
    * ws(WS.NER_OUT).
    */
  def forwardT(xT: Array[Float], batch: Int, seqLen: Int,
               padMask: Array[Boolean], ws: Workspace): Array[Float] = {
    val enc = encoder.forwardT(xT, batch, seqLen, padMask, ws)
    val out = ws.f(WS.NER_OUT, batch * seqLen * proj.outDim)
    proj.into(enc, batch * seqLen, out, ws)
    out
  }
}

/** Morph model: same trunk, argmax decode (exec/model.py:307-317, 330-342). */
final case class MorphModel(emb: WordShapeEmbedding, encoder: CNNEncoder,
                            proj: Linear) extends Serializable {
  def forward(wordIds: Array[Int], shapeIds: Array[Int], batch: Int, seqLen: Int,
              padMask: Array[Boolean]): Array[Float] = {
    val x = emb(wordIds, shapeIds)
    val enc = encoder(x, batch, seqLen, emb.dim, padMask)
    proj(enc, batch * seqLen)
  }

  /** logits land in ws(WS.MORPH_OUT) — syntax slots are disjoint, so they
    * stay valid through the syntax pass until assembly.
    */
  def forwardT(xT: Array[Float], batch: Int, seqLen: Int,
               padMask: Array[Boolean], ws: Workspace): Array[Float] = {
    val enc = encoder.forwardT(xT, batch, seqLen, padMask, ws)
    val out = ws.f(WS.MORPH_OUT, batch * seqLen * proj.outDim)
    proj.into(enc, batch * seqLen, out, ws)
    out
  }
}

/** Syntax model: trunk + biaffine head/rel; rel consumes DECODED head ids
  * (exec/model.py:465-481).
  */
final case class SyntaxModel(emb: WordShapeEmbedding, encoder: CNNEncoder,
                             head: SyntaxHead, rel: SyntaxRel) extends Serializable {
  /** returns (headIds [B,S] 0=root, relIds [B,S]) for valid positions */
  def forward(wordIds: Array[Int], shapeIds: Array[Int], batch: Int, seqLen: Int,
              padMask: Array[Boolean]): (Array[Int], Array[Int]) = {
    val x = emb(wordIds, shapeIds)
    val enc = encoder(x, batch, seqLen, emb.dim, padMask)
    val valid = new Array[Boolean](padMask.length)
    var i = 0
    while (i < padMask.length) { valid(i) = !padMask(i); i += 1 }
    val dim = encoder.outDim
    val headScores = head(enc, batch, seqLen, dim)
    val headIds = head.decode(headScores, batch, seqLen, valid)
    val relScores = rel(enc, batch, seqLen, dim, headIds)
    val relIds = rel.decode(relScores, batch, seqLen, valid)
    (headIds, relIds)
  }

  /** headIds/relIds land in ws int slots (valid until next batch). */
  def forwardT(xT: Array[Float], batch: Int, seqLen: Int,
               padMask: Array[Boolean], valid: Array[Boolean],
               ws: Workspace): (Array[Int], Array[Int]) = {
    val enc = encoder.forwardT(xT, batch, seqLen, padMask, ws)
    val dim = encoder.outDim
    val headScores = ws.f(WS.HEAD_SC, batch * seqLen * (seqLen + 1))
    head.into(enc, batch, seqLen, dim, ws, headScores)
    val headIds = head.decodeInto(headScores, batch, seqLen, valid,
      ws.i(WS.HEAD_IDS, batch * seqLen))
    val relScores = ws.f(WS.REL_SC, batch * seqLen * rel.rels)
    rel.into(enc, batch, seqLen, dim, headIds, ws, relScores)
    val relIds = rel.decodeInto(relScores, batch, seqLen, valid,
      ws.i(WS.REL_IDS, batch * seqLen))
    (headIds, relIds)
  }
}

/** The full broadcastable model pack: three task models sharing one navec
  * (weight sharing per exec/model.py:536-557 / api.py:29-31) + vocabs.
  */
final case class ModelPack(
    id: String,
    wordVocab: Vocab,
    shapeVocab: Vocab,
    nerTags: Vocab,
    morphTags: Vocab,
    rels: Vocab,
    ner: NerModel,
    morph: MorphModel,
    syntax: SyntaxModel
) extends Serializable {
  // fail fast on corrupt/foreign packs: a missing <unk>/<pad> would
  // otherwise surface as a negative array index deep in embedding lookup
  // on an executor (shape vocab is closed-class — it needs only <pad>)
  require(wordVocab.unkId >= 0 && wordVocab.padId >= 0,
    s"word vocab must contain ${Vocab.UNK} and ${Vocab.PAD}")
  require(shapeVocab.padId >= 0, s"shape vocab must contain ${Vocab.PAD}")
  /** tag id -> (pos, feats) parsed once per executor — morph tagsets are
    * tiny, so sharing the Map objects avoids a per-token allocation storm
    * at 32 threads (conll.py:14-23 parse, hoisted).
    */
  @transient lazy val morphParsed: Array[(String, Map[String, String])] =
    morphTags.items.map(graft.text.Conll.parseTag)

  /** ner tag id -> (part code, type-or-null), parsed once per executor
    * (bio.py:6-12 hoisted out of the per-token loop).
    */
  @transient lazy val nerParts: Array[Int] = nerTags.items.map { t =>
    graft.text.Bio.partCode(graft.text.Bio.parseBio(t)._1)
  }
  @transient lazy val nerTypes: Array[String] = nerTags.items.map { t =>
    graft.text.Bio.parseBio(t)._2.orNull
  }

  /** shape ordinal (index into Shape.SHAPES) -> shape vocab id; turns the
    * per-token `shapeVocab.encode(Shape.wordShape(w))` string-build +
    * hash-lookup into one array index.
    */
  @transient lazy val shapeIdByOrdinal: Array[Int] =
    graft.text.Shape.SHAPES.map(shapeVocab.encode).toArray

  /** Rectangular encode of pre-tokenized items (exec/encoders.py:25-49)
    * into ws(WS.WORD_IDS), ws(WS.SHAPE_IDS), ws(WS.PAD_MASK) and
    * ws(WS.VALID), [items.length * seqLen], pads filled with the pad ids;
    * `text` reads a token's word. Returns seqLen (the longest item, >= 1).
    */
  private[graft] def encode[T <: AnyRef](items: Array[Array[T]], text: T => String,
                                        ws: Workspace): Int = {
    val n = items.length
    var seqLen = 1
    var i = 0
    while (i < n) { if (items(i).length > seqLen) seqLen = items(i).length; i += 1 }
    val ns = n * seqLen
    val wordIds = ws.i(WS.WORD_IDS, ns)
    val shapeIds = ws.i(WS.SHAPE_IDS, ns)
    val padMask = ws.b(WS.PAD_MASK, ns)
    val valid = ws.b(WS.VALID, ns)
    val wv = wordVocab
    val shapeByOrd = shapeIdByOrdinal
    java.util.Arrays.fill(wordIds, 0, ns, wv.padId)
    java.util.Arrays.fill(shapeIds, 0, ns, shapeVocab.padId)
    i = 0
    while (i < n) {
      val ts = items(i)
      var s = 0
      while (s < seqLen) {
        val p = i * seqLen + s
        if (s < ts.length) {
          val w = text(ts(s))
          wordIds(p) = wv.encodeLower(w)
          shapeIds(p) = shapeByOrd(graft.text.Shape.shapeOrdinal(w))
          padMask(p) = false; valid(p) = true
        } else { padMask(p) = true; valid(p) = false }
        s += 1
      }
      i += 1
    }
    seqLen
  }

  /** all three task models share one embedding instance (navec weight
    * sharing, exec/model.py:536-557) and one encoder input guard — then
    * CNNEncoder.embT runs once per batch instead of three times.
    */
  @transient lazy val sharedEmb: Boolean =
    (ner.emb eq morph.emb) && (ner.emb eq syntax.emb) &&
      ner.encoder.inPad == morph.encoder.inPad && ner.encoder.inPad == syntax.encoder.inPad
}
