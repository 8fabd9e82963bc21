package graft.pack

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import graft.kernel._

/** Reference-layout model-pack interop.
  *
  * A released slovnet pack is a tar of `meta.json` (protocol check,
  * exec/pack.py:21-30), `model.json` — a RECURSIVE module tree whose leaf
  * `Weight`s are `{shape, dtype, array: <id>}` placeholders
  * (exec/model.py:10-22, separate_arrays visitor exec/model.py:510-520),
  * `arrays/<id>.bin` raw little-endian buffers (exec/pack.py:40-49) and
  * `vocabs/<id>.gz` gzip one-item-per-line vocabularies (exec/pack.py:57-70,
  * const.py:31-34: word/shape/tag/rel). Navec indexes/codes may be STRIPPED
  * from the pack (empty weights, exec/model.py:536-545) and injected at
  * load time from a shared navec artifact (api.py:29-31).
  *
  * `load*` reads that exact layout into this engine's kernel structures;
  * `dump*` writes it back (the role of the torch export, model/exec.py),
  * byte-compatible with the reference's `Pack`/`NER.load`.
  */
object SlovnetPack {

  val Protocol = 1
  private val om = new ObjectMapper()

  // ---------------------------------------------------------------- load

  final case class LoadedNer(id: String, words: Vocab, shapes: Vocab, tags: Vocab, model: NerModel)
  final case class LoadedMorph(words: Vocab, shapes: Vocab, tags: Vocab, model: MorphModel)
  final case class LoadedSyntax(words: Vocab, shapes: Vocab, rels: Vocab, model: SyntaxModel)

  private final class PackReader(file: File) {
    private val members: Map[String, Array[Byte]] = Tar.read(file).toMap
    def bytes(name: String): Array[Byte] =
      members.getOrElse(name, throw new IllegalArgumentException(
        s"pack member missing: $name (have ${members.keys.toSeq.sorted.mkString(", ")})"))
    def json(name: String): JsonNode = om.readTree(bytes(name))
    def vocab(id: String): Vocab = {
      val in = new GZIPInputStream(new ByteArrayInputStream(bytes(s"vocabs/$id.gz")))
      val out = new ByteArrayOutputStream()
      in.transferTo(out)
      // the reference dumps vocabs as `item + "\n"` per line
      // (io.py dump_gz_lines) and its loader strips per line — a
      // trailing newline must not become a phantom empty vocab item
      // (it would desync vocab.size from the head projections' outDim)
      val items = new String(out.toByteArray, StandardCharsets.UTF_8).split("\n", -1)
      Vocab(if (items.nonEmpty && items.last.isEmpty) items.init else items)
    }
    def checkProtocol(): String = {
      val meta = json("meta.json")
      val p = meta.get("protocol").asInt()
      require(p == Protocol, s"Expected protocol=$Protocol, got $p")
      meta.get("id").asText()
    }
  }

  /** A Weight leaf: shape + dtype + externalized array id (-1 = stripped). */
  private final case class Wt(shape: Array[Int], dtype: String, id: Int) {
    def n: Int = shape.product
  }
  private def wt(node: JsonNode): Wt = {
    val shape = node.get("shape").asInstanceOf[ArrayNode]
    val dims = Array.tabulate(shape.size())(shape.get(_).asInt())
    val id = if (node.has("array")) node.get("array").asInt() else -1
    Wt(dims, node.get("dtype").asText(), id)
  }

  /** arrays/<id>.bin as a little-endian buffer, its byte length checked
    * against shape x dtype width: a member written at another width (a
    * u8 navec `indexes` stored as 4-byte ids) or truncated must fail
    * loudly, not decode its prefix or die mid-read.
    */
  private def arrayOf(w: Wt, r: PackReader): ByteBuffer = {
    require(w.id >= 0, "weight is stripped (navec?) — inject before use")
    val name = s"arrays/${w.id}.bin"
    val width = w.dtype match {
      case "float64" | "int64" => 8
      case "float32" | "int32" => 4
      case "uint16"            => 2
      case "uint8" | "int8"    => 1
      case d => throw new IllegalArgumentException(s"$name: unsupported dtype $d")
    }
    val bytes = r.bytes(name)
    val want = w.n.toLong * width
    require(bytes.length == want, s"$name: ${bytes.length} bytes, want $want for " +
      s"${w.dtype} shape [${w.shape.mkString(", ")}]")
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
  }

  /** decode a float array per numpy dtype name. */
  private def floatsOf(w: Wt, r: PackReader): Array[Float] = {
    val bb = arrayOf(w, r)
    w.dtype match {
      case "float32" =>
        val out = new Array[Float](w.n); bb.asFloatBuffer().get(out); out
      case "float64" =>
        Array.tabulate(w.n)(i => bb.getDouble(i * 8).toFloat)
      case d => throw new IllegalArgumentException(s"unsupported float dtype $d")
    }
  }
  /** integer ids per numpy int dtype (8-bit ones read unsigned), each
    * checked to lie in [0, limit) — 256 for u8, 65536 for u16 navec ids.
    */
  private def idsOf(w: Wt, r: PackReader, limit: Int): Int => Int = {
    val bb = arrayOf(w, r)
    val at: Int => Long = w.dtype match {
      case "int64"          => i => bb.getLong(i * 8)
      case "int32"          => i => bb.getInt(i * 4).toLong
      case "uint16"         => i => (bb.getShort(i * 2) & 0xffff).toLong
      case "uint8" | "int8" => i => (bb.get(i) & 0xff).toLong
      case d => throw new IllegalArgumentException(s"unsupported int dtype $d")
    }
    i => {
      val v = at(i)
      require(v >= 0 && v < limit, s"centroid id $v out of range [0, $limit)")
      v.toInt
    }
  }

  private def linear(node: JsonNode, r: PackReader): Linear = {
    val w = wt(node.get("weight")) // [in, out] — pre-transposed at export
    Linear(floatsOf(w, r), w.shape(0), w.shape(1), floatsOf(wt(node.get("bias")), r))
  }
  private def conv(node: JsonNode, r: PackReader): Conv1d = {
    val w = wt(node.get("weight")) // [filters, in, kernel]
    Conv1d(floatsOf(w, r), w.shape(0), w.shape(1), w.shape(2),
      floatsOf(wt(node.get("bias")), r), node.get("padding").asInt())
  }
  private def norm(node: JsonNode, r: PackReader): BatchNorm1d =
    BatchNorm1d(floatsOf(wt(node.get("weight")), r), floatsOf(wt(node.get("bias")), r),
      floatsOf(wt(node.get("mean")), r), floatsOf(wt(node.get("std")), r))
  private def encoder(node: JsonNode, r: PackReader): CNNEncoder = {
    val layers = node.get("layers").asInstanceOf[ArrayNode]
    CNNEncoder((0 until layers.size()).map { i =>
      val l = layers.get(i)
      CNNEncoderLayer(conv(l.get("conv"), r), norm(l.get("norm"), r))
    })
  }
  private def emb(node: JsonNode, r: PackReader,
                  navec: Option[NavecEmbedding]): WordShapeEmbedding = {
    val wn = node.get("word")
    val word = {
      val idx = wt(wn.get("indexes")); val cod = wt(wn.get("codes"))
      if (idx.id >= 0 && cod.id >= 0) {
        val centroids = cod.shape(1)
        (if (centroids <= 256) {
          val ids = idsOf(idx, r, 256)
          NavecEmbedding(Array.tabulate(idx.n)(ids(_).toByte), idx.shape(1),
            floatsOf(cod, r), centroids, cod.shape(2))
        } else { // navec dtype rule: u16 ids above 256 centroids
          val ids = idsOf(idx, r, 65536)
          NavecEmbedding(null, idx.shape(1), floatsOf(cod, r),
            centroids, cod.shape(2), Array.tabulate(idx.n)(ids(_).toShort))
        }).validateIds()
      } else navec.getOrElse(throw new IllegalArgumentException(
        s"navec '${wn.get("id").asText()}' is stripped from the pack — pass one to inject"))
    }
    val sw = wt(node.get("shape").get("weight"))
    WordShapeEmbedding(word, Embedding(floatsOf(sw, r), sw.shape(1)))
  }
  private def ff(node: JsonNode, r: PackReader): FF = FF(linear(node.get("proj"), r))
  private def synHead(node: JsonNode, r: PackReader): SyntaxHead = {
    val k = wt(node.get("kernel")) // [hidden, hidden]
    SyntaxHead(ff(node.get("head"), r), ff(node.get("tail"), r),
      floatsOf(wt(node.get("root")), r), floatsOf(k, r), k.shape(0))
  }
  private def synRel(node: JsonNode, r: PackReader): SyntaxRel = {
    val k = wt(node.get("kernel")) // [hidden, hidden*rels]
    SyntaxRel(ff(node.get("head"), r), ff(node.get("tail"), r),
      floatsOf(wt(node.get("root")), r), floatsOf(k, r),
      k.shape(0), k.shape(1) / k.shape(0))
  }

  def loadNer(file: File, navec: Option[NavecEmbedding] = None): LoadedNer = {
    val r = new PackReader(file)
    val id = r.checkProtocol()
    val m = r.json("model.json")
    val head = m.get("head")
    val tr = wt(head.get("crf").get("transitions"))
    LoadedNer(id, r.vocab("word"), r.vocab("shape"), r.vocab("tag"),
      NerModel(emb(m.get("emb"), r, navec), encoder(m.get("encoder"), r),
        linear(head.get("proj"), r), CRF(floatsOf(tr, r), tr.shape(0))))
  }

  def loadMorph(file: File, navec: Option[NavecEmbedding] = None): LoadedMorph = {
    val r = new PackReader(file)
    r.checkProtocol()
    val m = r.json("model.json")
    LoadedMorph(r.vocab("word"), r.vocab("shape"), r.vocab("tag"),
      MorphModel(emb(m.get("emb"), r, navec), encoder(m.get("encoder"), r),
        linear(m.get("head").get("proj"), r)))
  }

  def loadSyntax(file: File, navec: Option[NavecEmbedding] = None): LoadedSyntax = {
    val r = new PackReader(file)
    r.checkProtocol()
    val m = r.json("model.json")
    LoadedSyntax(r.vocab("word"), r.vocab("shape"), r.vocab("rel"),
      SyntaxModel(emb(m.get("emb"), r, navec), encoder(m.get("encoder"), r),
        synHead(m.get("head"), r), synRel(m.get("rel"), r)))
  }

  /** Assemble the three loaded task packs into one broadcastable ModelPack,
    * re-establishing navec weight sharing — exec/model.py:536-557 /
    * api.py:29-31. The reference shares ONLY the navec word part across
    * tasks; each task's SHAPE embedding is trained separately, so it must
    * never be clobbered. We therefore share the word part when its arrays
    * are identical, and promote to whole-instance sharing (which unlocks
    * the one-pass emb+transpose fusion, ModelPack.sharedEmb) only when the
    * shape weights are also bit-identical.
    */
  def assemble(id: String, ner: LoadedNer, morph: LoadedMorph,
               syntax: LoadedSyntax): ModelPack = {
    val shared = ner.model.emb
    val sameVocab = ner.words.items.sameElements(morph.words.items) &&
      ner.words.items.sameElements(syntax.words.items)
    // the fused pipeline encodes word/shape ids ONCE (with ner's vocabs)
    // for all three trunks — packs exported against different vocabs would
    // silently index the wrong embedding rows, so refuse them up front
    require(sameVocab,
      "assemble: the three packs must share one word vocab (fused encoding); " +
        s"sizes ner=${ner.words.items.length} morph=${morph.words.items.length} " +
        s"syntax=${syntax.words.items.length}")
    require(ner.shapes.items.sameElements(morph.shapes.items) &&
      ner.shapes.items.sameElements(syntax.shapes.items),
      "assemble: the three packs must share one shape vocab (fused encoding)")
    def share(m: graft.kernel.WordShapeEmbedding): graft.kernel.WordShapeEmbedding = {
      if (!sameVocab) return m
      val sameWord = (m.word eq shared.word) ||
        (java.util.Arrays.equals(m.word.indexes, shared.word.indexes) &&
          java.util.Arrays.equals(m.word.indexes16, shared.word.indexes16) &&
          java.util.Arrays.equals(m.word.codes, shared.word.codes))
      if (!sameWord) m
      else if ((m.shape eq shared.shape) ||
        java.util.Arrays.equals(m.shape.weight, shared.shape.weight)) shared
      else m.copy(word = shared.word)
    }
    val morphModel = morph.model.copy(emb = share(morph.model.emb))
    val synModel = syntax.model.copy(emb = share(syntax.model.emb))
    ModelPack(id, ner.words, ner.shapes, ner.tags, morph.tags, syntax.rels,
      ner.model, morphModel, synModel)
  }

  // ---------------------------------------------------------------- dump

  /** Array registry reproducing SeparateArraysVisitor's id assignment
    * (ids in depth-first attribute-order encounter, exec/model.py:510-520).
    */
  private final class Dumper {
    val arrays = scala.collection.mutable.ArrayBuffer[(String, Array[Byte])]()
    private def next(): Int = arrays.length

    private def w(shape: Seq[Int], dtype: String, bytes: Array[Byte]): ObjectNode = {
      val n = om.createObjectNode()
      val sh = n.putArray("shape"); shape.foreach(sh.add)
      n.put("dtype", dtype)
      val id = next()
      arrays += (s"arrays/$id.bin" -> bytes)
      n.put("array", id)
      n
    }
    private def stripped(shape: Seq[Int], dtype: String): ObjectNode = {
      val n = om.createObjectNode()
      val sh = n.putArray("shape"); shape.foreach(sh.add)
      n.put("dtype", dtype)
      n
    }
    def f32(shape: Seq[Int], a: Array[Float]): ObjectNode = {
      val bb = ByteBuffer.allocate(a.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      bb.asFloatBuffer().put(a)
      w(shape, "float32", bb.array())
    }
    def u8(shape: Seq[Int], a: Array[Byte]): ObjectNode =
      w(shape, "uint8", a.clone())
    def u16(shape: Seq[Int], a: Array[Short]): ObjectNode = {
      val bb = ByteBuffer.allocate(a.length * 2).order(ByteOrder.LITTLE_ENDIAN)
      bb.asShortBuffer().put(a)
      w(shape, "uint16", bb.array())
    }

    def linearN(l: Linear): ObjectNode = {
      val n = om.createObjectNode()
      n.set[JsonNode]("weight", f32(Seq(l.inDim, l.outDim), l.weight))
      n.set[JsonNode]("bias", f32(Seq(l.outDim), l.bias))
      n
    }
    def convN(c: Conv1d): ObjectNode = {
      val n = om.createObjectNode()
      n.set[JsonNode]("weight", f32(Seq(c.filters, c.inDim, c.kernel), c.weight))
      n.set[JsonNode]("bias", f32(Seq(c.filters), c.bias))
      n.put("padding", c.padding)
      n
    }
    def normN(b: BatchNorm1d): ObjectNode = {
      val n = om.createObjectNode()
      val ch = b.weight.length
      n.set[JsonNode]("weight", f32(Seq(ch), b.weight))
      n.set[JsonNode]("bias", f32(Seq(ch), b.bias))
      n.set[JsonNode]("mean", f32(Seq(ch), b.mean))
      n.set[JsonNode]("std", f32(Seq(ch), b.std))
      n
    }
    def encoderN(e: CNNEncoder): ObjectNode = {
      val n = om.createObjectNode()
      val ls = n.putArray("layers")
      e.layers.foreach { l =>
        val ln = om.createObjectNode()
        ln.set[JsonNode]("conv", convN(l.conv))
        ln.set[JsonNode]("relu", om.createObjectNode()) // ReLU: no attributes
        ln.set[JsonNode]("norm", normN(l.norm))
        ls.add(ln)
      }
      n
    }
    def embN(e: WordShapeEmbedding, navecId: String, strip: Boolean): ObjectNode = {
      val n = om.createObjectNode()
      val wn = om.createObjectNode()
      wn.put("id", navecId)
      val nav = e.word
      val vocabN = nav.vocabN
      val idxDtype = if (nav.indexes16 != null) "uint16" else "uint8"
      if (strip) {
        wn.set[JsonNode]("indexes", stripped(Seq(vocabN, nav.qdim), idxDtype))
        wn.set[JsonNode]("codes",
          stripped(Seq(nav.qdim, nav.centroids, nav.chunk), "float32"))
      } else {
        wn.set[JsonNode]("indexes",
          if (nav.indexes16 != null) u16(Seq(vocabN, nav.qdim), nav.indexes16)
          else u8(Seq(vocabN, nav.qdim), nav.indexes))
        wn.set[JsonNode]("codes",
          f32(Seq(nav.qdim, nav.centroids, nav.chunk), nav.codes))
      }
      n.set[JsonNode]("word", wn)
      val sn = om.createObjectNode()
      sn.set[JsonNode]("weight",
        f32(Seq(e.shape.weight.length / e.shape.dim, e.shape.dim), e.shape.weight))
      n.set[JsonNode]("shape", sn)
      n
    }
    def ffN(f: FF): ObjectNode = {
      val n = om.createObjectNode()
      n.set[JsonNode]("proj", linearN(f.proj))
      n.set[JsonNode]("relu", om.createObjectNode())
      n
    }
  }

  private def metaBytes(id: String): Array[Byte] = {
    val n = om.createObjectNode()
    n.put("id", id); n.put("protocol", Protocol)
    om.writerWithDefaultPrettyPrinter().writeValueAsBytes(n)
  }

  private def vocabBytes(v: Vocab): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(v.items.mkString("\n").getBytes(StandardCharsets.UTF_8))
    gz.close()
    bos.toByteArray
  }

  private def writePack(out: File, packId: String, model: ObjectNode,
                        d: Dumper, vocabs: Seq[(String, Vocab)]): Unit = {
    val members = Seq(
      "meta.json" -> metaBytes(packId),
      "model.json" -> om.writerWithDefaultPrettyPrinter().writeValueAsBytes(model)
    ) ++ d.arrays ++ vocabs.map { case (id, v) => s"vocabs/$id.gz" -> vocabBytes(v) }
    Tar.write(out, members)
  }

  def dumpNer(pack: ModelPack, out: File, navecId: String = "navec",
              stripNavec: Boolean = false): Unit = {
    val d = new Dumper
    val m = om.createObjectNode()
    m.set[JsonNode]("emb", d.embN(pack.ner.emb, navecId, stripNavec))
    m.set[JsonNode]("encoder", d.encoderN(pack.ner.encoder))
    val head = om.createObjectNode()
    head.set[JsonNode]("proj", d.linearN(pack.ner.proj))
    val crf = om.createObjectNode()
    crf.set[JsonNode]("transitions",
      d.f32(Seq(pack.ner.crf.tags, pack.ner.crf.tags), pack.ner.crf.transitions))
    head.set[JsonNode]("crf", crf)
    m.set[JsonNode]("head", head)
    writePack(out, pack.id, m, d,
      Seq("word" -> pack.wordVocab, "shape" -> pack.shapeVocab, "tag" -> pack.nerTags))
  }

  def dumpMorph(pack: ModelPack, out: File, navecId: String = "navec",
                stripNavec: Boolean = false): Unit = {
    val d = new Dumper
    val m = om.createObjectNode()
    m.set[JsonNode]("emb", d.embN(pack.morph.emb, navecId, stripNavec))
    m.set[JsonNode]("encoder", d.encoderN(pack.morph.encoder))
    val head = om.createObjectNode()
    head.set[JsonNode]("proj", d.linearN(pack.morph.proj))
    m.set[JsonNode]("head", head)
    writePack(out, pack.id, m, d,
      Seq("word" -> pack.wordVocab, "shape" -> pack.shapeVocab, "tag" -> pack.morphTags))
  }

  def dumpSyntax(pack: ModelPack, out: File, navecId: String = "navec",
                 stripNavec: Boolean = false): Unit = {
    val d = new Dumper
    val m = om.createObjectNode()
    m.set[JsonNode]("emb", d.embN(pack.syntax.emb, navecId, stripNavec))
    m.set[JsonNode]("encoder", d.encoderN(pack.syntax.encoder))
    val h = pack.syntax.head
    val hn = om.createObjectNode()
    hn.set[JsonNode]("head", d.ffN(h.head))
    hn.set[JsonNode]("tail", d.ffN(h.tail))
    hn.set[JsonNode]("root", d.f32(Seq(h.root.length), h.root))
    hn.set[JsonNode]("kernel", d.f32(Seq(h.hidden, h.hidden), h.kernel))
    m.set[JsonNode]("head", hn)
    val rl = pack.syntax.rel
    val rn = om.createObjectNode()
    rn.set[JsonNode]("head", d.ffN(rl.head))
    rn.set[JsonNode]("tail", d.ffN(rl.tail))
    rn.set[JsonNode]("root", d.f32(Seq(rl.root.length), rl.root))
    rn.set[JsonNode]("kernel", d.f32(Seq(rl.hidden, rl.hidden * rl.rels), rl.kernel))
    m.set[JsonNode]("rel", rn)
    writePack(out, pack.id, m, d,
      Seq("word" -> pack.wordVocab, "shape" -> pack.shapeVocab, "rel" -> pack.rels))
  }

  /** Dump all three task packs of a ModelPack in the reference layout. */
  def dumpAll(pack: ModelPack, dir: File, stripNavec: Boolean = false): Unit = {
    dir.mkdirs()
    dumpNer(pack, new File(dir, "ner.tar"), stripNavec = stripNavec)
    dumpMorph(pack, new File(dir, "morph.tar"), stripNavec = stripNavec)
    dumpSyntax(pack, new File(dir, "syntax.tar"), stripNavec = stripNavec)
  }

  /** Load all three task packs and assemble (navec injected if stripped)
    * under the id in ner.tar's meta.json.
    */
  def loadAll(dir: File, navec: Option[NavecEmbedding] = None): ModelPack = {
    val ner = loadNer(new File(dir, "ner.tar"), navec)
    val morph = loadMorph(new File(dir, "morph.tar"), navec)
    val syntax = loadSyntax(new File(dir, "syntax.tar"), navec)
    assemble(ner.id, ner, morph, syntax)
  }
}
