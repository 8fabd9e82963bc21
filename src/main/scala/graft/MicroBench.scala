package graft

import graft.corpus.RuCorpus
import graft.nlp.{Pipeline, SentRow}
import graft.pack.SynthPack
import graft.kernel.{WS, Workspace}
import graft.text.{Token, Tokenizer}

/** Single-threaded phase attribution for the fused inference hot path.
  * No Spark — isolates pure-compute cost per stage so optimization targets
  * the real bottleneck, not a guess. args = nDocs (default 100000).
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 100000L
    // "ref" -> production-dims dense pack (the honest FLOPs workload)
    val pack = if (args.contains("ref")) SynthPack.buildRandom() else SynthPack.build()

    // materialize sentences once (generation cost measured separately)
    var t0 = System.nanoTime()
    val sents = (0L until nDocs).iterator.flatMap { id =>
      RuCorpus.docSpans(id).iterator.zipWithIndex.collect {
        case (s, order) if s.kind == "text" && s.text != null =>
          Tokenizer.sentenize(s.text).iterator.zipWithIndex.map { case (sn, i) =>
            SentRow(s"d$id", order, i, sn.start, sn.stop, sn.text)
          }
      }.flatten
    }.toArray
    val genSec = (System.nanoTime() - t0) / 1e9
    println(f"gen+sentenize: $genSec%.2f s  (${sents.length} sentences)")

    def time(name: String, reps: Int)(f: => Long): Unit = {
      f // warmup
      var best = Double.MaxValue
      var acc = 0L
      for (_ <- 1 to reps) {
        val t = System.nanoTime()
        acc = f
        best = math.min(best, (System.nanoTime() - t) / 1e9)
      }
      println(f"$name%-22s $best%6.2f s   (acc=$acc)")
    }

    time("tokenize", 3) {
      var acc = 0L
      var i = 0
      while (i < sents.length) { acc += Tokenizer.tokenize(sents(i).text).length; i += 1 }
      acc
    }

    // batched forwards on pre-tokenized input, encoded as the engine
    // encodes them (ModelPack.encode into a Workspace)
    val batchSize = if (args.length > 1) args(1).toInt else 64
    val batches = sents.grouped(batchSize).toArray
    val batchToks = batches.map(_.map(r => Tokenizer.tokenize(r.text)))
    val ws = new Workspace
    time("encode", 3) {
      var acc = 0L
      for (ts <- batchToks) acc += pack.encode(ts, (t: Token) => t.text, ws)
      acc
    }
    // the allocating forwards below read exact-length copies of the slots
    val encoded = batchToks.map { ts =>
      val n = ts.length
      val sl = pack.encode(ts, (t: Token) => t.text, ws)
      (n, sl, java.util.Arrays.copyOf(ws.i(WS.WORD_IDS, n * sl), n * sl),
        java.util.Arrays.copyOf(ws.i(WS.SHAPE_IDS, n * sl), n * sl),
        java.util.Arrays.copyOf(ws.b(WS.PAD_MASK, n * sl), n * sl))
    }

    time("ner.forward", 2) {
      var acc = 0L
      for ((n, sl, w, sh, pm) <- encoded) acc += pack.ner.forward(w, sh, n, sl, pm).length
      acc
    }
    val emissionsAll = encoded.map { case (n, sl, w, sh, pm) =>
      (n, sl, pm, pack.ner.forward(w, sh, n, sl, pm))
    }
    time("crf.decode", 2) {
      var acc = 0L
      for ((n, sl, pm, em) <- emissionsAll) {
        val valid = pm.map(!_)
        acc += pack.ner.crf.decode(em, n, sl, valid).length
      }
      acc
    }
    time("morph.forward", 2) {
      var acc = 0L
      for ((n, sl, w, sh, pm) <- encoded) acc += pack.morph.forward(w, sh, n, sl, pm).length
      acc
    }
    time("syntax.forward", 2) {
      var acc = 0L
      for ((n, sl, w, sh, pm) <- encoded) acc += pack.syntax.forward(w, sh, n, sl, pm)._1.length
      acc
    }
    time("inferBatch FULL(ws)", 2) {
      var acc = 0L
      for (b <- batches) acc += Pipeline.inferBatch(b.toSeq, pack, ws).length
      acc
    }
    val parsed = batches.flatMap(b => Pipeline.inferBatch(b.toSeq, pack))
    time("kg.extract", 3) {
      var acc = 0L
      var i = 0
      while (i < parsed.length) { acc += graft.kg.Kg.extract(parsed(i)).length; i += 1 }
      acc
    }
  }
}
