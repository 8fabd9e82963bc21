package graft

import graft.kernel.{WS, Workspace}
import graft.nlp.SentRow
import graft.pack.ModelPack
import graft.text._

/** In-process API parity surface — the reference's top-level public API
  * (reference: slovnet/__init__.py:2, api.py:41-113): `NER`, `Morph`,
  * `Syntax`, each built from a pack, exposing `apply` (one item,
  * api.py:37-38) and `map` (batched via `chop`, api.py:33-35).
  *
  * This is the single-node form used by tests and small callers; the
  * distributed form of the same pipelines is `graft.nlp.Pipeline` +
  * `graft.kg.Kg` over Datasets. Instances are cheap; each `map` call uses
  * its own scratch workspace, so instances are thread-safe.
  */
object Api {

  final case class MorphMarkup(tokens: Array[MorphTok])
  final case class SyntaxMarkup(tokens: Array[SynTok])

  /** Load the reference-layout task tars (ner.tar/morph.tar/syntax.tar in
    * `dir`) plus, for navec-stripped released packs, the navec artifact in
    * the navec package's own tar format — the exact file set a slovnet
    * user holds (api.py:41-113 load + api.py:29-31 navec injection).
    */
  def loadSlovnet(dir: java.io.File,
                  navecTar: Option[java.io.File] = None): ModelPack = {
    val navec = navecTar.map(f => graft.pack.NavecTar.load(f).emb)
    graft.pack.SlovnetPack.loadAll(dir, navec)
  }
}

/** Raw text -> entity spans (api.py:41-61, exec/infer.py:24-51). */
final class NER(val pack: ModelPack, val batchSize: Int = 8) extends Serializable {
  def apply(text: String): Markup.SpanMarkup = map(Seq(text)).next()

  def map(texts: Iterable[String]): Iterator[Markup.SpanMarkup] = {
    val ws = new Workspace
    texts.iterator.grouped(batchSize).flatMap { batch =>
      val toks = batch.iterator.map(t => Tokenizer.tokenize(t)).toArray
      val words = toks.map(_.map(_.text))
      val n = words.length
      val seqLen = pack.encode(words, (w: String) => w, ws)
      val xT = pack.ner.encoder.embT(pack.ner.emb, n, seqLen, ws)
      val emissions = pack.ner.forwardT(xT, n, seqLen, ws.b(WS.PAD_MASK, n * seqLen), ws)
      val paths = pack.ner.crf.decode(emissions, n, seqLen, ws.b(WS.VALID, n * seqLen), ws)
      batch.indices.map { b =>
        Markup.SpanMarkup(batch(b),
          Bio.bioSpansIds(toks(b), paths(b), toks(b).length, pack.nerParts, pack.nerTypes))
      }
    }
  }
}

object NER {
  def load(dir: String): NER = new NER(Api.loadSlovnet(new java.io.File(dir)))
}

/** Pre-tokenized words -> POS + feats (api.py:66-88, exec/infer.py:54-74). */
final class Morph(val pack: ModelPack, val batchSize: Int = 8) extends Serializable {
  def apply(words: Seq[String]): Api.MorphMarkup = map(Seq(words)).next()

  def map(items: Iterable[Seq[String]]): Iterator[Api.MorphMarkup] = {
    val ws = new Workspace
    items.iterator.grouped(batchSize).flatMap { batch =>
      val words = batch.iterator.map(_.toArray).toArray
      val n = words.length
      val seqLen = pack.encode(words, (w: String) => w, ws)
      val xT = pack.morph.encoder.embT(pack.morph.emb, n, seqLen, ws)
      val logits = pack.morph.forwardT(xT, n, seqLen, ws.b(WS.PAD_MASK, n * seqLen), ws)
      val t = pack.morphTags.size
      batch.indices.map { b =>
        val m = words(b).length
        val out = new Array[MorphTok](m)
        var i = 0
        while (i < m) {
          val id = graft.kernel.Kernels.argmaxFirst(logits, (b * seqLen + i) * t, t)
          val (pos, feats) = pack.morphParsed(id)
          out(i) = MorphTok(words(b)(i), pos, feats)
          i += 1
        }
        Api.MorphMarkup(out)
      }
    }
  }
}

object Morph {
  def load(dir: String): Morph = new Morph(Api.loadSlovnet(new java.io.File(dir)))
}

/** Pre-tokenized words -> dependency tree; 1-based ids, head 0 = root
  * (api.py:91-113, exec/infer.py:78-112).
  */
final class Syntax(val pack: ModelPack, val batchSize: Int = 8) extends Serializable {
  def apply(words: Seq[String]): Api.SyntaxMarkup = map(Seq(words)).next()

  def map(items: Iterable[Seq[String]]): Iterator[Api.SyntaxMarkup] = {
    val ws = new Workspace
    items.iterator.grouped(batchSize).flatMap { batch =>
      val words = batch.iterator.map(_.toArray).toArray
      val n = words.length
      val seqLen = pack.encode(words, (w: String) => w, ws)
      val xT = pack.syntax.encoder.embT(pack.syntax.emb, n, seqLen, ws)
      val (headIds, relIds) = pack.syntax.forwardT(xT, n, seqLen,
        ws.b(WS.PAD_MASK, n * seqLen), ws.b(WS.VALID, n * seqLen), ws)
      batch.indices.map { b =>
        val m = words(b).length
        val out = new Array[SynTok](m)
        var i = 0
        while (i < m) {
          out(i) = SynTok(i + 1, words(b)(i), headIds(b * seqLen + i),
            pack.rels.decode(relIds(b * seqLen + i)))
          i += 1
        }
        Api.SyntaxMarkup(out)
      }
    }
  }
}

object Syntax {
  def load(dir: String): Syntax = new Syntax(Api.loadSlovnet(new java.io.File(dir)))
}
