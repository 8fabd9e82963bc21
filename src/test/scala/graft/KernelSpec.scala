package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernel._

/** Kernel parity: closed-form checks + brute-force references
  * (semantics per slovnet/exec/model.py).
  */
class KernelSpec extends AnyFunSuite {

  test("Linear: x·W + b") {
    // 2x3 input, W 3x2, b 2
    val lin = Linear(Array(1f, 0f, 0f, 1f, 1f, 1f), 3, 2, Array(10f, 20f))
    val out = lin(Array(1f, 2f, 3f, 4f, 5f, 6f), 2)
    // row0: [1+3, 2+3]+b ; row1: [4+6, 5+6]+b
    assert(out.toSeq == Seq(14f, 25f, 20f, 31f))
  }

  test("Conv1d: kernel-3 same-pad conv vs hand computation") {
    // 1 batch, 1 in-channel, seq 4, 1 filter, weight [1,1,1] bias 0
    val conv = Conv1d(Array(1f, 1f, 1f), 1, 1, 3, Array(0f), 1)
    val out = conv(Array(1f, 2f, 3f, 4f), 1, 4)
    assert(out.toSeq == Seq(3f, 6f, 9f, 7f)) // [0+1+2, 1+2+3, 2+3+4, 3+4+0]
  }

  test("Conv1d multi-channel center tap = identity passthrough") {
    // 2 in, 2 filters: f0 <- in1 center, f1 <- in0 center
    val w = new Array[Float](2 * 2 * 3)
    w((0 * 2 + 1) * 3 + 1) = 1f
    w((1 * 2 + 0) * 3 + 1) = 1f
    val conv = Conv1d(w, 2, 2, 3, Array(0f, 0f), 1)
    val in = Array(1f, 2f, 3f, /*ch1*/ 4f, 5f, 6f) // [B=1,C=2,S=3]
    assert(conv(in, 1, 3).toSeq == Seq(4f, 5f, 6f, 1f, 2f, 3f))
  }

  test("BatchNorm1d per-channel affine") {
    val bn = BatchNorm1d(Array(2f), Array(1f), Array(3f), Array(2f))
    val x = Array(5f, 7f) // (x-3)/2*2+1 = x-2
    bn.applyInPlace(x, 1, 1, 2)
    assert(x.toSeq == Seq(3f, 5f))
  }

  test("CRF Viterbi equals brute-force best path (with transitions)") {
    val rnd = new scala.util.Random(7)
    val T = 4
    for (trial <- 0 until 30) {
      val seqLen = 1 + rnd.nextInt(5)
      val trans = Array.fill(T * T)(rnd.nextFloat() * 2 - 1)
      val emis = Array.fill(seqLen * T)(rnd.nextFloat() * 2 - 1)
      val mask = Array.fill(seqLen)(true)
      val crf = CRF(trans, T)
      val got = crf.decode(emis, 1, seqLen, mask)(0).toSeq
      // brute force over all T^seqLen paths
      def score(path: Seq[Int]): Float = {
        var s = emis(path.head)
        for (i <- 1 until path.length)
          s += trans(path(i - 1) * T + path(i)) + emis(i * T + path(i))
        s
      }
      val all = Seq.fill(seqLen)(0 until T).foldLeft(Seq(Seq.empty[Int])) {
        (acc, r) => acc.flatMap(p => r.map(p :+ _))
      }
      val best = all.maxBy(score)
      assert(math.abs(score(got) - score(best)) < 1e-4, s"trial=$trial")
    }
  }

  test("CRF respects mask: tags only for valid prefix") {
    val T = 3
    val crf = CRF(new Array[Float](T * T), T)
    val emis = Array(
      0f, 1f, 0f, // -> 1
      2f, 0f, 0f, // -> 0
      0f, 0f, 9f) // masked
    val mask = Array(true, true, false)
    val got = crf.decode(emis, 1, 3, mask)(0).toSeq
    assert(got == Seq(1, 0))
  }

  test("NavecEmbedding: PQ gather reconstructs planted codes") {
    val indexes = Array[Byte](3, 0, 1, 7) // one word, qdim 4
    val codes = new Array[Float](4 * 8 * 3)
    for (q <- 0 until 4; c <- 0 until 8; k <- 0 until 3)
      codes((q * 8 + c) * 3 + k) = ((c >> k) & 1).toFloat
    val nav = NavecEmbedding(indexes, 4, codes, 8, 3)
    val out = new Array[Float](12)
    nav.lookup(0, out, 0)
    assert(out.toSeq == Seq(1f, 1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f, 1f, 1f, 1f))
  }

  test("Conv1d dense-GEMM path and sparse-tap path both equal naive conv") {
    val rnd = new java.util.Random(3)
    val (bN, fN, cN, kN, sN) = (2, 5, 7, 3, 9)
    def naive(w: Array[Float], bias: Array[Float], in: Array[Float]): Array[Float] = {
      val out = new Array[Float](bN * fN * sN)
      for (b <- 0 until bN; f <- 0 until fN; s <- 0 until sN) {
        var acc = 0f // channel-major, tap-minor accumulation (im2col order)
        for (c <- 0 until cN; t <- 0 until kN) {
          val si = s + t - 1
          if (si >= 0 && si < sN) acc += w((f * cN + c) * kN + t) * in((b * cN + c) * sN + si)
        }
        out((b * fN + f) * sN + s) = acc + bias(f)
      }
      out
    }
    val in = Array.fill(bN * cN * sN)(rnd.nextFloat() * 2 - 1)
    val bias = Array.fill(fN)(rnd.nextFloat())
    // dense: every weight nonzero -> GEMM path (4-way-unrolled fixed
    // accumulation order — equal to the sequential naive sum only within
    // fp tolerance, exactly like numpy-vs-BLAS)
    val wDense = Array.fill(fN * cN * kN)(rnd.nextFloat() * 2 - 1)
    val gotDense = Conv1d(wDense, fN, cN, kN, bias, 1)(in, bN, sN)
    val wantDense = naive(wDense, bias, in)
    gotDense.zip(wantDense).foreach { case (g, w) =>
      assert(math.abs(g - w) <= 1e-4f * (1f + math.abs(w)), s"$g vs $w")
    }
    // dense path is still deterministic: two runs bit-identical
    assert(gotDense.toSeq == Conv1d(wDense, fN, cN, kN, bias, 1)(in, bN, sN).toSeq)
    // sparse: ~85% zeros -> tap path, bit-exact sequential order
    val wSparse = wDense.map(v => if (rnd.nextFloat() < 0.85f) 0f else v)
    assert(Conv1d(wSparse, fN, cN, kN, bias, 1)(in, bN, sN).toSeq ==
      naive(wSparse, bias, in).toSeq)
  }

  test("SIMD dense GEMM (kernel-1 convDirect) is bit-identical to the scalar twin") {
    assert(Kernels.simdAvailable, "vector module missing in test JVM")
    val rnd = new java.util.Random(11)
    val (ws1, ws2) = (new Workspace, new Workspace)
    // shapes hit: 4-vector tiles, 1-vector tiles, scalar column tails,
    // odd final row, k%4 remainders, tiny-n; then the ref-dims morph
    // projection, FF and biaffine-rel products
    for ((m, k, n) <- Seq((5, 7, 3), (2, 990, 256), (3, 768, 128), (7, 33, 65),
                          (1, 5, 17), (4, 384, 64), (9, 13, 100), (2, 4, 130),
                          (6, 50, 96), (8, 990, 256), (5, 7, 40),
                          (1280, 64, 60), (1344, 64, 32), (1280, 32, 1280))) {
      val a = Array.fill(m * k)(rnd.nextFloat() * 2 - 1)
      val b = Array.fill(k * n)(rnd.nextFloat() * 2 - 1)
      val o1 = Array.fill(m * n)(Float.NaN) // both paths must overwrite all
      val o2 = Array.fill(m * n)(Float.NaN)
      // GEMM = convolution with seqLen 1, chans k, kernel 1, pad 0; no bias
      VectorGemm.convDirect(a, m, 1, k, 1, 0, b, n,
        new ConvStore(null, null, null, o1, 1, n, -1), ws1)
      Kernels.convDirectScalar(a, m, 1, k, 1, 0, b, n,
        new ConvStore(null, null, null, o2, 1, n, -1), ws2)
      assert(bitsEqual(o1, o2, m * n), s"mismatch at m=$m k=$k n=$n")
    }
  }

  test("reference-dims pack: golden checksum + batch invariance") {
    // production dims (250K x 100q navec, [256,128,64] CNN) shrunk only in
    // vocab (2k) to keep the test fast — all tensor shapes that matter for
    // kernel correctness (qdim, centroids, conv dims, hidden) are real
    val dims = graft.pack.SynthPack.Dims(vocab = 2000)
    val pack = graft.pack.SynthPack.buildRandom(dims)
    assert(pack.ner.emb.dim == 330 && pack.ner.encoder.outDim == 64)
    import graft.nlp.{Pipeline, SentRow}
    val texts = Seq(
      "w000017 w000420 w001999 w000001.",
      "Иван Петров купил завод в Москве.", // all-UNK words
      "w000100 w000200 w000300 w000400 w000500 w000600 w000700.")
    val rows = texts.zipWithIndex.map { case (t, i) => SentRow(s"d$i", 0, 0, 0, t.length, t) }
    val batched = Pipeline.inferBatch(rows, pack)
    val singles = rows.flatMap(r => Pipeline.inferBatch(Seq(r), pack))
    def sig(ps: Seq[graft.nlp.ParsedSent]) =
      ps.map(p => (p.nerSpans.toSeq, p.morph.map(m => (m.text, m.pos)).toSeq,
        p.syn.map(t => (t.id, t.headId, t.rel)).toSeq))
    assert(sig(batched) == sig(singles)) // padding/batch invariance at prod dims
    // pinned golden: decoded outputs are a pure function of the seed
    val golden = batched.map(p =>
      (p.syn.map(t => t.headId).sum, p.syn.map(_.rel).mkString(","),
        p.morph.map(_.pos).mkString(","))).toList
    assert(golden == List(
      (58, "rel6,rel19,rel19,rel19,rel19,rel19,rel19,rel19,rel19",
        "P0,P0,P55,P39,P55,P0,P0,P50,P6"),
      (37, "rel6,rel19,rel19,rel19,rel19,rel19,rel19", "P0,P0,P18,P16,P0,P0,P6"),
      (184, "rel6,rel19,rel19,rel19,rel19,rel19,rel19,rel19,rel19,rel19," +
        "rel19,rel19,rel19,rel19,rel19",
        "P0,P0,P55,P39,P55,P39,P55,P39,P55,P39,P55,P0,P0,P50,P6")),
      s"got $golden")
  }

  test("reference-dims pack: SHA-256 of the raw forwardT score bits") {
    // the golden sentences above, one batch; pins every dense product
    // (morph projection, FF, biaffine rel) bit for bit, not only its argmax
    val pack = graft.pack.SynthPack.buildRandom(graft.pack.SynthPack.Dims(vocab = 2000))
    val words = Array(
      "w000017 w000420 w001999 w000001.",
      "Иван Петров купил завод в Москве.",
      "w000100 w000200 w000300 w000400 w000500 w000600 w000700.")
      .map(t => graft.text.Tokenizer.tokenize(t).map(_.text))
    val ws = new Workspace
    val n = words.length
    val seqLen = pack.encode(words, (w: String) => w, ws)
    val ns = n * seqLen
    val pad = ws.b(WS.PAD_MASK, ns)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    def add(a: Array[Float], len: Int): Unit = {
      val bb = java.nio.ByteBuffer.allocate(4 * len) // big-endian raw bits
      (0 until len).foreach(i => bb.putInt(java.lang.Float.floatToRawIntBits(a(i))))
      sha.update(bb.array())
    }
    add(pack.ner.forwardT(pack.ner.encoder.embT(pack.ner.emb, n, seqLen, ws), n, seqLen, pad, ws),
      ns * pack.ner.proj.outDim)
    add(pack.morph.forwardT(pack.morph.encoder.embT(pack.morph.emb, n, seqLen, ws), n, seqLen,
      pad, ws), ns * pack.morph.proj.outDim)
    pack.syntax.forwardT(pack.syntax.encoder.embT(pack.syntax.emb, n, seqLen, ws), n, seqLen, pad,
      ws.b(WS.VALID, ns), ws)
    add(ws.f(WS.HEAD_SC, ns * (seqLen + 1)), ns * (seqLen + 1))
    add(ws.f(WS.REL_SC, ns * pack.syntax.rel.rels), ns * pack.syntax.rel.rels)
    val hex = sha.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(hex == "cd546d7ec7096ff7afe19c1753ee81816d2d2c5b350a028568eb5cfec586808e")
  }

  test("SyntaxHead/SyntaxRel rigged pack semantics on one sentence") {
    val pack = graft.pack.SynthPack.build()
    val sent = "Иван Петров купил завод в Москве."
    val toks = graft.text.Tokenizer.tokenize(sent)
    val wv = pack.wordVocab; val sv = pack.shapeVocab
    val n = toks.length
    val wids = toks.map(t => wv.encode(t.text.toLowerCase(java.util.Locale.ROOT)))
    val sids = toks.map(t => sv.encode(graft.text.Shape.wordShape(t.text)))
    val padMask = Array.fill(n)(false)
    val (heads, rels) = pack.syntax.forward(wids, sids, 1, n, padMask)
    // words: Иван Петров купил завод в Москве .  (verb at index 2 -> id 3)
    // TREE attachments (round 2): flat:name Петров -> Иван (1), case в ->
    // its obl head Москве (6); everything else -> the verb
    assert(heads.toSeq == Seq(3, 1, 0, 3, 6, 3, 3))
    assert(rels.map(pack.rels.decode).toSeq ==
      Seq("nsubj", "flat:name", "root", "obj", "case", "obl", "punct"))
  }

  test("NER + morph rigged decode on one sentence") {
    val pack = graft.pack.SynthPack.build()
    val sent = "« Газпром » купил завод ."
    val words = sent.split(" ")
    val wids = words.map(w => pack.wordVocab.encode(w.toLowerCase))
    val sids = words.map(w => pack.shapeVocab.encode(graft.text.Shape.wordShape(w)))
    val n = words.length
    val padMask = Array.fill(n)(false)
    val em = pack.ner.forward(wids, sids, 1, n, padMask)
    val tags = pack.ner.crf.decode(em, 1, n, padMask.map(!_))(0).map(pack.nerTags.decode)
    assert(tags.toSeq == Seq("O", "B-ORG", "O", "O", "O", "O"))
    val ml = pack.morph.forward(wids, sids, 1, n, padMask)
    val morphs = (0 until n).map(i =>
      pack.morphTags.decode(Kernels.argmaxFirst(ml, i * pack.morphTags.size, pack.morphTags.size)))
    assert(morphs == Seq("PUNCT", "PROPN|Case=Nom", "PUNCT",
      "VERB|Gender=Masc|Number=Sing|Tense=Past",
      "NOUN|Case=Acc|Gender=Masc|Number=Sing", "PUNCT"))
  }

  test("batch composition does not change per-sentence results (padding invariance)") {
    val pack = graft.pack.SynthPack.build()
    import graft.nlp.{Pipeline, SentRow}
    val sents = Seq(
      "Иван Петров купил завод.",
      "«Газпром» открыл филиал.",
      "Мария Смирнов посетил музей в Казани.")
      .zipWithIndex.map { case (t, i) => SentRow(s"d$i", 0, 0, 0, t.length, t) }
    val together = Pipeline.inferBatch(sents, pack)
    val separate = sents.flatMap(s => Pipeline.inferBatch(Seq(s), pack))
    assert(together.map(p => (p.docId, p.nerSpans.toSeq, p.morph.toSeq, p.syn.toSeq)) ==
      separate.map(p => (p.docId, p.nerSpans.toSeq, p.morph.toSeq, p.syn.toSeq)))
  }

  // ---- direct convolution: generated-input properties (ScalaCheck) ----

  import org.scalacheck.{Gen, Prop, Test}

  private def check(name: String, p: Prop): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(150), p)
    assert(res.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(res)}")
  }

  private def bitsEqual(a: Array[Float], b: Array[Float], n: Int): Boolean =
    (0 until n).forall(i =>
      java.lang.Float.floatToRawIntBits(a(i)) == java.lang.Float.floatToRawIntBits(b(i)))

  private val lanes = VectorGemm.lanes
  // S = 1 and B*S not a multiple of 4 come up often; F straddles the
  // 1-vector and 4-vector tile widths
  private val genS = Gen.frequency(1 -> Gen.const(1), 3 -> Gen.choose(2, 11))
  private val genF = Gen.frequency(1 -> Gen.choose(1, lanes - 1),
    3 -> Gen.choose(lanes, 8 * lanes + 3))
  private val genK = Gen.oneOf(1, 3, 5)
  private val genOn = Gen.oneOf(true, false)

  /** The seed's dense conv: im2col [B*S, C*K] + GEMM + bias, [B,F,S]. The
    * GEMM accumulates each output over p ascending with Math.fma, the dense
    * kernel's contract.
    */
  private def im2colConv(w: Array[Float], bias: Array[Float], in: Array[Float],
                         bN: Int, sN: Int, cN: Int, fN: Int, kN: Int): Array[Float] = {
    val ck = cN * kN
    val pad = kN / 2
    val col = new Array[Float](bN * sN * ck)
    for (b <- 0 until bN; s <- 0 until sN; c <- 0 until cN; t <- 0 until kN) {
      val si = s + t - pad
      col((b * sN + s) * ck + c * kN + t) =
        if (si >= 0 && si < sN) in((b * cN + c) * sN + si) else 0f
    }
    val out = new Array[Float](bN * fN * sN)
    for (b <- 0 until bN; f <- 0 until fN; s <- 0 until sN) {
      val r = (b * sN + s) * ck
      var acc = 0f
      var p = 0
      while (p < ck) { acc = Math.fma(col(r + p), w(f * ck + p), acc); p += 1 }
      out((b * fN + f) * sN + s) = acc + bias(f)
    }
    out
  }

  /** The seed's sparse tap conv: nonzero taps in (c, t) order, in-range
    * windows only, bias added when nonzero; [B,F,S].
    */
  private def tapConv(w: Array[Float], bias: Array[Float], in: Array[Float],
                      bN: Int, sN: Int, cN: Int, fN: Int, kN: Int): Array[Float] = {
    val pad = kN / 2
    val out = new Array[Float](bN * fN * sN)
    for (b <- 0 until bN; f <- 0 until fN; s <- 0 until sN) {
      var acc = 0f
      for (c <- 0 until cN; t <- 0 until kN) {
        val v = w((f * cN + c) * kN + t)
        val si = s + t - pad
        if (v != 0f && si >= 0 && si < sN) acc += v * in((b * cN + c) * sN + si)
      }
      out((b * fN + f) * sN + s) = if (bias(f) != 0f) acc + bias(f) else acc
    }
    out
  }

  private def randArr(rnd: java.util.Random, n: Int): Array[Float] =
    Array.fill(n)(rnd.nextFloat() * 2 - 1)

  test("property: direct dense conv == im2col + FMA GEMM + bias, bit for bit") {
    check("direct-vs-im2col", Prop.forAll(Gen.choose(1, 5), genS, Gen.choose(1, 40), genF,
        genK, Gen.long) { (bN, sN, cN, fN, kN, seed) =>
      val rnd = new java.util.Random(seed)
      val w = randArr(rnd, fN * cN * kN).map(v => if (v == 0f) 0.5f else v)
      val bias = randArr(rnd, fN)
      val in = randArr(rnd, bN * cN * sN)
      val got = Conv1d(w, fN, cN, kN, bias, kN / 2)(in, bN, sN)
      bitsEqual(got, im2colConv(w, bias, in, bN, sN, cN, fN, kN), bN * fN * sN)
    })
  }

  test("property: SIMD direct conv kernel == its scalar twin (fused epilogue, both layouts)") {
    assert(Kernels.simdAvailable, "vector module missing in test JVM")
    val ws1 = new Workspace
    val ws2 = new Workspace
    check("simd-vs-scalar", Prop.forAll(Gen.choose(1, 5), genS, Gen.choose(1, 40), genF,
        genK, Gen.oneOf(-1, 0, 1, 2), Gen.zip(genOn, genOn, genOn), Gen.long) {
        (bN, sN, cN, fN, kN, outPad, withBiasNormMask, seed) =>
      // absent bias, norm or mask: the stores of Linear (bias only) and of
      // the biaffine-rel product (nothing)
      val (withBias, withNorm, withMask) = withBiasNormMask
      val rnd = new java.util.Random(seed)
      val pad = kN / 2
      val sg = sN + 2 * pad
      val x = new Array[Float](bN * cN * sg)
      for (bc <- 0 until bN * cN; s <- 0 until sN) x(bc * sg + pad + s) = rnd.nextFloat() * 2 - 1
      val w = randArr(rnd, cN * kN * fN)
      val bias = if (withBias) randArr(rnd, fN) else null
      val norm = if (!withNorm) null
        else BatchNorm1d(randArr(rnd, fN), randArr(rnd, fN), randArr(rnd, fN),
          Array.fill(fN)(0.5f + rnd.nextFloat()))
      val mask = if (withMask) Array.fill(bN * sN)(rnd.nextInt(4) == 0) else null
      val n = if (outPad < 0) bN * sN * fN else bN * fN * (sN + 2 * outPad)
      val o1 = Array.fill(n)(Float.NaN)
      val o2 = Array.fill(n)(Float.NaN)
      VectorGemm.convDirect(x, bN, sN, cN, kN, pad, w, fN,
        new ConvStore(bias, norm, mask, o1, sN, fN, outPad), ws1)
      Kernels.convDirectScalar(x, bN, sN, cN, kN, pad, w, fN,
        new ConvStore(bias, norm, mask, o2, sN, fN, outPad), ws2)
      bitsEqual(o1, o2, n)
    })
  }

  test("property: CNNEncoder.forwardT == seed layer composition (conv, reluNorm, mask, swap)") {
    val ws = new Workspace // reused across cases: stale buffers must not leak in
    val genLayers = Gen.choose(1, 3).flatMap(l => Gen.listOfN(l, Gen.zip(genF, genK)))
    check("encoder", Prop.forAll(Gen.choose(1, 5), genS, Gen.choose(1, 24), genLayers,
        Gen.oneOf(true, false), Gen.long) { (bN, sN, eN, dims, dense, seed) =>
      val rnd = new java.util.Random(seed)
      var inDim = eN
      val layers = dims.map { case (fN, kN) =>
        val w = randArr(rnd, fN * inDim * kN).map { v =>
          if (dense) { if (v == 0f) 0.5f else v } else if (rnd.nextInt(8) == 0) v else 0f
        }
        val l = CNNEncoderLayer(Conv1d(w, fN, inDim, kN, randArr(rnd, fN), kN / 2),
          BatchNorm1d(randArr(rnd, fN), randArr(rnd, fN), randArr(rnd, fN),
            Array.fill(fN)(0.5f + rnd.nextFloat())))
        inDim = fN
        l
      }
      val enc = CNNEncoder(layers)
      val input = randArr(rnd, bN * sN * eN) // [B,S,E]
      val mask = Array.fill(bN * sN)(rnd.nextInt(3) == 0)
      // seed composition on [B,C,S]
      var x = new Array[Float](bN * eN * sN)
      for (b <- 0 until bN; s <- 0 until sN; c <- 0 until eN)
        x((b * eN + c) * sN + s) = input((b * sN + s) * eN + c)
      var cN = eN
      for (l <- layers) {
        val cv = l.conv
        // the weight-density rule of Conv1d picks the seed's physical form
        val denseW = cv.weight.count(_ != 0f) * 4 > cv.weight.length
        val y = (if (denseW) im2colConv _ else tapConv _)(
          cv.weight, cv.bias, x, bN, sN, cN, cv.filters, cv.kernel)
        val nm = l.norm
        for (b <- 0 until bN; f <- 0 until cv.filters; s <- 0 until sN) {
          val i = (b * cv.filters + f) * sN + s
          val v = y(i)
          y(i) = if (mask(b * sN + s)) 0f
            else ((if (v > 0f) v else 0f) - nm.mean(f)) * (nm.weight(f) / nm.std(f)) + nm.bias(f)
        }
        x = y
        cN = cv.filters
      }
      val want = new Array[Float](bN * sN * cN)
      for (b <- 0 until bN; s <- 0 until sN; c <- 0 until cN)
        want((b * sN + s) * cN + c) = x((b * cN + c) * sN + s)
      val xT = ws.f(WS.XT, bN * eN * (sN + 2 * enc.inPad))
      CNNEncoder.transposeGuarded(input, bN, sN, eN, enc.inPad, xT)
      val got = enc.forwardT(xT, bN, sN, mask, ws)
      bitsEqual(got, want, want.length) &&
        bitsEqual(enc(input, bN, sN, eN, mask), want, want.length)
    })
  }
}
