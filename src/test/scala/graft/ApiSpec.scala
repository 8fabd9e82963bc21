package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.RuCorpus
import graft.nlp.Pipeline
import graft.pack.{SlovnetPack, SynthPack}
import graft.text.Tokenizer

/** The reference's e2e API oracle shape (tests/test_api.py): load packs
  * from disk, run the three public APIs, assert exact outputs. Here the
  * expected values come from the single-threaded pipeline oracle over the
  * planted corpus (zero-egress analogue of the released-model goldens).
  */
class ApiSpec extends AnyFunSuite {

  test("NER/Morph/Syntax public API matches the pipeline oracle after disk round-trip") {
    val pack = SynthPack.build()
    val dir = java.nio.file.Files.createTempDirectory("graft_pack").toString
    SlovnetPack.dumpAll(pack, new java.io.File(dir))
    val ner = NER.load(dir)
    val morph = Morph.load(dir)
    val syntax = Syntax.load(dir)

    for (docId <- 0L until 50L) {
      val s = RuCorpus.sentence(docId, 0)
      val expected = Pipeline.oracleParse(pack, "d", 0, s.text).head
      assert(ner(s.text).spans.toSeq == expected.nerSpans.toSeq, s"ner on '${s.text}'")
      val words = Tokenizer.tokenize(s.text).map(_.text).toSeq
      assert(morph(words).tokens.toSeq == expected.morph.toSeq, s"morph on '${s.text}'")
      assert(syntax(words).tokens.toSeq == expected.syn.toSeq, s"syntax on '${s.text}'")
    }
  }

  test("API.map batching == one-by-one __call__ (chop semantics, api.py:33-38)") {
    val ner = new NER(SynthPack.build(), batchSize = 8)
    val texts = (0L until 20L).map(RuCorpus.sentence(_, 1).text)
    assert(ner.map(texts).toSeq.map(_.spans.toSeq) == texts.map(t => ner(t).spans.toSeq))
  }

  test("Api.loadSlovnet: released-pack file set (stripped tars + navec artifact)") {
    val pack = SynthPack.build()
    val dir = java.nio.file.Files.createTempDirectory("slovnet_user").toFile
    graft.pack.SlovnetPack.dumpAll(pack, dir, stripNavec = true)
    graft.pack.NavecTar.dump(
      graft.pack.NavecTar.NavecArtifact("navec_test", pack.wordVocab.items,
        Array.fill(pack.wordVocab.size)(1L), pack.ner.emb.word),
      new java.io.File(dir, "navec.tar"))

    val loaded = Api.loadSlovnet(dir, Some(new java.io.File(dir, "navec.tar")))
    val ner = new NER(loaded)
    val direct = new NER(pack)
    val texts = (0L until 20L).map(RuCorpus.sentence(_, 2).text)
    assert(ner.map(texts).toSeq.map(_.spans.toSeq) ==
      direct.map(texts).toSeq.map(_.spans.toSeq))
    // without the navec artifact the stripped pack must refuse loudly
    intercept[IllegalArgumentException](Api.loadSlovnet(dir))
  }
}
