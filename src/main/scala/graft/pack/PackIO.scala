package graft.pack

import java.io.{BufferedInputStream, BufferedOutputStream, File, FileInputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import graft.kernel._

/** Model-pack storage format (reference: slovnet/exec/pack.py:15-139,
  * tar.py:8-41): `meta.json` (id + protocol), `model.json` (module tree
  * with array-id leaves), `arrays/<id>.bin` (raw little-endian buffers),
  * `vocabs/<name>.gz` (gzip, one item per line). Realized as a DIRECTORY
  * (the tar member layout, unpacked — same bytes, simpler zero-dep IO).
  *
  * Navec weight sharing (exec/model.py:536-557, api.py:29-31): the PQ
  * `indexes`/`codes` arrays are STRIPPED from the pack on dump and
  * injected at load from a separate navec dir, so one embedding artifact
  * serves all three task packs. Loading happens once on the driver; the
  * assembled [[ModelPack]] is broadcast.
  */
object PackIO {

  val Protocol = 1

  // ---------- primitive IO ----------

  def writeFloats(path: File, a: Array[Float]): Unit = {
    val bb = ByteBuffer.allocate(a.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    bb.asFloatBuffer().put(a)
    Files.write(path.toPath, bb.array())
  }

  def readFloats(path: File): Array[Float] = {
    val bytes = Files.readAllBytes(path.toPath)
    val out = new Array[Float](bytes.length / 4)
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().get(out)
    out
  }

  /** gzip vocab: one item per line (exec/pack.py:59-72, io.py load_gz_lines). */
  def writeVocab(path: File, v: Vocab): Unit = {
    val out = new GZIPOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try out.write(v.items.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  def readVocab(path: File): Vocab = {
    val in = new GZIPInputStream(new BufferedInputStream(new FileInputStream(path)))
    // writeVocab emits no trailing newline, but a hand-built or
    // reference-written file may (dump_gz_lines) — never let it become a
    // phantom empty vocab item
    try {
      val items = new String(in.readAllBytes(), "UTF-8").split("\n", -1)
      Vocab(if (items.nonEmpty && items.last.isEmpty) items.init else items)
    } finally in.close()
  }

  // ---------- JSON (hand-rolled: flat schema, zero deps) ----------

  private def jq(s: String): String = graft.text.Json.quote(s)

  // ---------- tar container (the reference's shipping format) ----------

  /** Dump as a single .tar whose members are the directory layout —
    * byte-compatible with unpacking and calling [[load]] (exec/pack.py
    * DumpPack over tar.py).
    */
  def dumpTar(pack: ModelPack, tarFile: String): Unit = {
    val tmp = Files.createTempDirectory("graft_pack_tar").toFile
    try {
      dump(pack, tmp.toString)
      Tar.fromDir(tmp, new File(tarFile))
    } finally deleteRecursively(tmp)
  }

  def loadTar(tarFile: String): ModelPack = {
    val tmp = Files.createTempDirectory("graft_pack_untar").toFile
    try {
      Tar.toDir(new File(tarFile), tmp)
      load(tmp.toString)
    } finally deleteRecursively(tmp)
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(): Unit
  }

  // ---------- dump ----------

  /** Dump the pack: navec arrays stripped into their own dir. */
  def dump(pack: ModelPack, dir: String): Unit = {
    // this flat layout stores ONE embedding (ner's) that load() re-shares
    // across all three task models — packs whose trunks carry distinct
    // embeddings (possible via SlovnetPack.assemble on real released tars)
    // would be silently corrupted; such packs must round-trip through
    // SlovnetPack.dumpAll instead, which keeps per-task embeddings
    def sameEmb(b: graft.kernel.WordShapeEmbedding): Boolean =
      ((pack.ner.emb.word eq b.word) ||
        (java.util.Arrays.equals(pack.ner.emb.word.indexes, b.word.indexes) &&
          java.util.Arrays.equals(pack.ner.emb.word.codes, b.word.codes))) &&
        java.util.Arrays.equals(pack.ner.emb.shape.weight, b.shape.weight)
    require(pack.sharedEmb || (sameEmb(pack.morph.emb) && sameEmb(pack.syntax.emb)),
      "PackIO.dump requires one shared embedding across trunks; " +
        "use SlovnetPack.dumpAll for packs with per-task embeddings")
    val root = new File(dir)
    new File(root, "arrays").mkdirs()
    new File(root, "vocabs").mkdirs()
    var arrayId = 0
    val modelJson = new StringBuilder("{")
    def putArray(name: String, a: Array[Float]): Unit = {
      writeFloats(new File(root, s"arrays/$arrayId.bin"), a)
      modelJson.append(s"${jq(name)}: $arrayId,")
      arrayId += 1
    }
    def putShape(name: String, dims: Seq[Int]): Unit =
      modelJson.append(s"${jq(name)}: [${dims.mkString(",")}],")

    Files.writeString(Paths.get(dir, "meta.json"),
      s"""{"id": ${jq(pack.id)}, "protocol": $Protocol}""")

    // vocabs
    writeVocab(new File(root, "vocabs/word.gz"), pack.wordVocab)
    writeVocab(new File(root, "vocabs/shape.gz"), pack.shapeVocab)
    writeVocab(new File(root, "vocabs/tag.gz"), pack.nerTags)
    writeVocab(new File(root, "vocabs/morph.gz"), pack.morphTags)
    writeVocab(new File(root, "vocabs/rel.gz"), pack.rels)

    // navec (shared, stripped): separate artifact dir
    val navecDir = new File(root, "navec")
    navecDir.mkdirs()
    val nav = pack.ner.emb.word
    java.nio.file.Files.write(new File(navecDir, "indexes.bin").toPath, nav.indexes)
    writeFloats(new File(navecDir, "codes.bin"), nav.codes)
    Files.writeString(navecDir.toPath.resolve("meta.json"),
      s"""{"id": ${jq(pack.id)}, "qdim": ${nav.qdim}, "centroids": ${nav.centroids}, "chunk": ${nav.chunk}}""")

    def dumpEncoder(prefix: String, enc: CNNEncoder): Unit =
      for ((layer, li) <- enc.layers.zipWithIndex) {
        val c = layer.conv
        putShape(s"$prefix.enc$li.conv.dims", Seq(c.filters, c.inDim, c.kernel, c.padding))
        putArray(s"$prefix.enc$li.conv.weight", c.weight)
        putArray(s"$prefix.enc$li.conv.bias", c.bias)
        putArray(s"$prefix.enc$li.norm.weight", layer.norm.weight)
        putArray(s"$prefix.enc$li.norm.bias", layer.norm.bias)
        putArray(s"$prefix.enc$li.norm.mean", layer.norm.mean)
        putArray(s"$prefix.enc$li.norm.std", layer.norm.std)
      }
    def dumpLinear(prefix: String, l: Linear): Unit = {
      putShape(s"$prefix.dims", Seq(l.inDim, l.outDim))
      putArray(s"$prefix.weight", l.weight)
      putArray(s"$prefix.bias", l.bias)
    }
    putShape("emb.shape.dims", Seq(pack.shapeVocab.size, pack.ner.emb.shape.dim))
    putArray("emb.shape.weight", pack.ner.emb.shape.weight)
    dumpEncoder("ner", pack.ner.encoder)
    dumpLinear("ner.proj", pack.ner.proj)
    putArray("ner.crf.transitions", pack.ner.crf.transitions)
    dumpEncoder("morph", pack.morph.encoder)
    dumpLinear("morph.proj", pack.morph.proj)
    dumpEncoder("syntax", pack.syntax.encoder)
    dumpLinear("syntax.head.h", pack.syntax.head.head.proj)
    dumpLinear("syntax.head.t", pack.syntax.head.tail.proj)
    putArray("syntax.head.root", pack.syntax.head.root)
    putArray("syntax.head.kernel", pack.syntax.head.kernel)
    putShape("syntax.head.dims", Seq(pack.syntax.head.hidden))
    dumpLinear("syntax.rel.h", pack.syntax.rel.head.proj)
    dumpLinear("syntax.rel.t", pack.syntax.rel.tail.proj)
    putArray("syntax.rel.root", pack.syntax.rel.root)
    putArray("syntax.rel.kernel", pack.syntax.rel.kernel)
    putShape("syntax.rel.dims", Seq(pack.syntax.rel.hidden, pack.syntax.rel.rels))

    modelJson.setLength(modelJson.length - 1) // trailing comma
    modelJson.append("}")
    Files.writeString(Paths.get(dir, "model.json"), modelJson.toString)
  }

  // ---------- load ----------

  private def parseFlatJson(s: String): Map[String, Either[Int, Seq[Int]]] = {
    // {"k": 1, "k2": [1,2,3], ...} — flat, string keys, int / int-array values
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*(\[[^\]]*\]|\d+)""".r
    entry.findAllMatchIn(s).map { m =>
      val k = m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
      val v = m.group(2)
      if (v.startsWith("["))
        k -> Right(v.stripPrefix("[").stripSuffix("]").split(",").filter(_.nonEmpty)
          .map(_.trim.toInt).toSeq)
      else k -> Left(v.toInt)
    }.toMap
  }

  /** Load a pack dir + navec dir, assembling the full model (protocol
    * check per exec/pack.py:28-30; navec injection per api.py:29-31).
    */
  def load(dir: String): ModelPack = {
    val root = new File(dir)
    val meta = Files.readString(Paths.get(dir, "meta.json"))
    require(meta.contains(s""""protocol": $Protocol"""),
      s"pack protocol mismatch, expected $Protocol")
    val id = """"id":\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(meta).get.group(1)

    val model = parseFlatJson(Files.readString(Paths.get(dir, "model.json")))
    def arr(name: String): Array[Float] = model(name) match {
      case Left(aid) => readFloats(new File(root, s"arrays/$aid.bin"))
      case Right(_)  => throw new IllegalArgumentException(s"$name is a shape")
    }
    def dims(name: String): Seq[Int] = model(name).toOption.get

    val wordVocab = readVocab(new File(root, "vocabs/word.gz"))
    val shapeVocab = readVocab(new File(root, "vocabs/shape.gz"))
    val nerTags = readVocab(new File(root, "vocabs/tag.gz"))
    val morphTags = readVocab(new File(root, "vocabs/morph.gz"))
    val rels = readVocab(new File(root, "vocabs/rel.gz"))

    // navec injection
    val navecDir = new File(root, "navec")
    val nmeta = Files.readString(navecDir.toPath.resolve("meta.json"))
    def ni(key: String): Int =
      s""""$key":\\s*(\\d+)""".r.findFirstMatchIn(nmeta).get.group(1).toInt
    val navec = {
      val idx = java.nio.file.Files.readAllBytes(new File(navecDir, "indexes.bin").toPath)
      // indexes.bin is raw u8 — a pack written in the old int32 layout (or
      // any corruption) must fail loudly, not load 4x the ids silently
      require(idx.length == wordVocab.size * ni("qdim"),
        s"navec indexes.bin: ${idx.length} bytes, want vocab ${wordVocab.size} x qdim ${ni("qdim")} u8 ids")
      NavecEmbedding(idx, ni("qdim"), readFloats(new File(navecDir, "codes.bin")),
        ni("centroids"), ni("chunk"))
    }
    val shapeEmb = {
      val d = dims("emb.shape.dims")
      Embedding(arr("emb.shape.weight"), d(1))
    }
    val emb = WordShapeEmbedding(navec, shapeEmb)

    def loadEncoder(prefix: String): CNNEncoder = {
      val layers = Iterator.from(0)
        .takeWhile(li => model.contains(s"$prefix.enc$li.conv.weight"))
        .map { li =>
          val d = dims(s"$prefix.enc$li.conv.dims")
          CNNEncoderLayer(
            Conv1d(arr(s"$prefix.enc$li.conv.weight"), d(0), d(1), d(2),
              arr(s"$prefix.enc$li.conv.bias"), d(3)),
            BatchNorm1d(arr(s"$prefix.enc$li.norm.weight"),
              arr(s"$prefix.enc$li.norm.bias"),
              arr(s"$prefix.enc$li.norm.mean"), arr(s"$prefix.enc$li.norm.std")))
        }.toSeq
      CNNEncoder(layers)
    }
    def loadLinear(prefix: String): Linear = {
      val d = dims(s"$prefix.dims")
      Linear(arr(s"$prefix.weight"), d(0), d(1), arr(s"$prefix.bias"))
    }

    val ner = NerModel(emb, loadEncoder("ner"), loadLinear("ner.proj"),
      CRF(arr("ner.crf.transitions"), nerTags.size))
    val morph = MorphModel(emb, loadEncoder("morph"), loadLinear("morph.proj"))
    val synHidden = dims("syntax.head.dims").head
    val relDims = dims("syntax.rel.dims")
    val syntax = SyntaxModel(emb, loadEncoder("syntax"),
      SyntaxHead(FF(loadLinear("syntax.head.h")), FF(loadLinear("syntax.head.t")),
        arr("syntax.head.root"), arr("syntax.head.kernel"), synHidden),
      SyntaxRel(FF(loadLinear("syntax.rel.h")), FF(loadLinear("syntax.rel.t")),
        arr("syntax.rel.root"), arr("syntax.rel.kernel"), relDims(0), relDims(1)))

    ModelPack(id, wordVocab, shapeVocab, nerTags, morphTags, rels, ner, morph, syntax)
  }
}
