package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.text.{Chop, Subword}

class SubwordSpec extends AnyFunSuite {
  test("bert_chunks splits like \\w+|[^\\w\\s] (bert.py:5-9)") {
    assert(Subword.bertChunks("Привет, мир!").toSeq == Seq("Привет", ",", "мир", "!"))
    assert(Subword.bertChunks("a1_b c").toSeq == Seq("a1_b", "c"))
  }

  test("wordpiece greedy longest-match-first with ## (bert.py:12-38)") {
    val vocab = Set("un", "##aff", "##able", "##ffa", "##ble", "unaff")
    assert(Subword.wordpiece("unaffable", vocab) ==
      Some(List("unaff", "##able")))
    assert(Subword.wordpiece("zzz", vocab).isEmpty)
    assert(Subword.safeWordpiece("zzz", vocab) == List("zzz"))
  }

  test("chop/chop_drop/chop_weighted (chop.py:3-34)") {
    assert(Chop.chop((1 to 7).iterator, 3).toSeq.map(_.toSeq) ==
      Seq(Seq(1, 2, 3), Seq(4, 5, 6), Seq(7)))
    assert(Chop.chopDrop((1 to 7).iterator, 3).toSeq.map(_.toSeq) ==
      Seq(Seq(1, 2, 3), Seq(4, 5, 6)))
    // weights: batch while total <= budget; oversize item gets own batch
    val got = Chop.chopWeighted(Seq(2, 3, 4, 10, 1).iterator, 5L, (x: Int) => x.toLong)
      .toSeq.map(_.toSeq)
    assert(got == Seq(Seq(2, 3), Seq(4), Seq(10), Seq(1)), got.toString)
  }
}

class PackIoSpec extends AnyFunSuite {
  import graft.pack.{SlovnetPack, Tar}

  private def dumped(pack: graft.pack.ModelPack): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("pack").toFile
    SlovnetPack.dumpAll(pack, dir)
    dir
  }
  /** rewrite one member of a dumped task tar in place */
  private def rewrite(tar: java.io.File, member: String)(f: Array[Byte] => Array[Byte]): Unit =
    Tar.write(tar, Tar.read(tar).map { case (n, b) => n -> (if (n == member) f(b) else b) })

  test("dump + load round trip preserves model behavior exactly") {
    val pack = graft.pack.SynthPack.build()
    val loaded = Api.loadSlovnet(dumped(pack))
    assert(loaded.id == pack.id)
    assert(loaded.wordVocab.items.toSeq == pack.wordVocab.items.toSeq)
    assert(loaded.rels.items.toSeq == pack.rels.items.toSeq)
    // behavioral equality on a sentence through all three models
    import graft.nlp.{Pipeline, SentRow}
    val rows = Seq("Иван Петров купил завод в Москве.", "«Газпром» открыл филиал.")
      .zipWithIndex.map { case (t, i) => SentRow(s"d$i", 0, 0, 0, t.length, t) }
    val a = Pipeline.inferBatch(rows, pack)
    val b = Pipeline.inferBatch(rows, loaded)
    assert(a.map(p => (p.nerSpans.toSeq, p.morph.toSeq, p.syn.toSeq)) ==
      b.map(p => (p.nerSpans.toSeq, p.morph.toSeq, p.syn.toSeq)))
  }

  test("tar container round trip (the reference's shipping format, tar.py:8-41)") {
    val pack = graft.pack.SynthPack.build()
    val dir = dumped(pack)
    val loaded = Syntax.load(dir.toString).pack
    assert(loaded.wordVocab.items.toSeq == pack.wordVocab.items.toSeq)
    import graft.nlp.{Pipeline, SentRow}
    val row = Seq(SentRow("d0", 0, 0, 0, 10, "Анна Сидоров посетил музей."))
    assert(Pipeline.inferBatch(row, pack).map(_.syn.toSeq) ==
      Pipeline.inferBatch(row, loaded).map(_.syn.toSeq))
    // and the raw member list matches the reference layout
    val names = Tar.read(new java.io.File(dir, "syntax.tar")).map(_._1)
    assert(names.contains("meta.json") && names.contains("model.json"))
    assert(names.exists(_.startsWith("arrays/")) && names.exists(_.startsWith("vocabs/")))
  }

  test("stale u32-layout navec indexes.bin fails loudly, not as garbage") {
    val dir = dumped(graft.pack.SynthPack.build())
    val tar = new java.io.File(dir, "ner.tar")
    val model = Tar.read(tar).collectFirst { case ("model.json", b) => b }.get
    val idx = new com.fasterxml.jackson.databind.ObjectMapper().readTree(model)
      .at("/emb/word/indexes")
    assert(idx.get("dtype").asText() == "uint8")
    val member = s"arrays/${idx.get("array").asInt()}.bin"
    // the old int32 layout: 4 bytes per id, model.json still says uint8
    rewrite(tar, member) { u8 =>
      val u32 = java.nio.ByteBuffer.allocate(u8.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      u8.foreach(b => u32.putInt(b & 0xff))
      u32.array()
    }
    val e = intercept[IllegalArgumentException](Api.loadSlovnet(dir))
    assert(e.getMessage.contains(member) && e.getMessage.contains("uint8"), e.getMessage)
  }

  test("protocol check rejects wrong version") {
    val dir = dumped(graft.pack.SynthPack.build())
    rewrite(new java.io.File(dir, "ner.tar"), "meta.json") { b =>
      val meta = new String(b, "UTF-8")
      assert(meta.contains("\"protocol\" : 1"), meta)
      meta.replace("\"protocol\" : 1", "\"protocol\" : 2").getBytes("UTF-8")
    }
    intercept[IllegalArgumentException](NER.load(dir.toString))
  }

  test("dumped reference-layout tars match their SHA-256 golden") {
    // pins every dumped byte (member order, model.json tree, dtypes,
    // shapes, array bytes, gzip vocabs): Tar's mtime is fixed and Java's
    // GZIP header carries mtime 0. It stands in for the reference-loader
    // run (tools/check_slovnet_interop.py): a change that moves a hash is
    // re-checked with that tool before the golden is updated
    def hashes(dir: java.io.File): Seq[String] = Seq("ner", "morph", "syntax").map { t =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(java.nio.file.Files.readAllBytes(new java.io.File(dir, s"$t.tar").toPath))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val got = hashes(dumped(graft.pack.SynthPack.build()))
    assert(got == hashes(dumped(graft.pack.SynthPack.build())), "dump is not deterministic")
    assert(got == Seq(
      "d0df441e4bef09e0fc169024847b773d60a429ac36bf871e10e4fae39af8ad31",
      "66135d5709191e3fcd34acbb01103e644195166d0d7e3c3a4080864909cdd739",
      "e74e14c829aedd87e7bdb07445c1826ee629ae7aa17a6f2f40e6ed1cc950db27"))
  }

  test("assemble keeps per-task shape embeddings (shares only the navec word part)") {
    import graft.nlp.{Pipeline, SentRow}
    import graft.pack.SlovnetPack
    // real released packs share the navec word part but each task trains
    // its OWN shape embedding — build such a pack by perturbing morph's
    // shape weights, round-trip it, and require morph outputs to survive
    val base = graft.pack.SynthPack.build()
    val mEmb = base.morph.emb
    val shapePerturbed = mEmb.shape.copy(weight = mEmb.shape.weight.map(_ + 0.25f))
    val pack = base.copy(morph = base.morph.copy(emb = mEmb.copy(shape = shapePerturbed)))
    val rows = Seq("Иван Петров купил завод в Москве.", "«Газпром» открыл филиал.")
      .zipWithIndex.map { case (t, i) => SentRow(s"d$i", 0, 0, 0, t.length, t) }
    def morphSig(p: graft.pack.ModelPack) =
      Pipeline.inferBatch(rows, p).map(x => x.morph.map(m => (m.text, m.pos)).toSeq)
    val want = morphSig(pack)
    val dir = java.nio.file.Files.createTempDirectory("slovnet_shape").toFile
    SlovnetPack.dumpAll(pack, dir)
    val loaded = SlovnetPack.loadAll(dir)
    assert(!loaded.sharedEmb, "distinct shape weights must not be whole-instance shared")
    // navec word part IS shared across task models (one broadcast copy)
    assert(loaded.ner.emb.word eq loaded.morph.emb.word)
    assert(morphSig(loaded) == want,
      "morph must run with its own shape embedding after round trip")
  }

  test("vocab gz with trailing newline (reference dump_gz_lines) gains no phantom item") {
    import graft.pack.{SlovnetPack, Tar}
    val pack = graft.pack.SynthPack.build()
    val dir = java.nio.file.Files.createTempDirectory("slovnet_nl").toFile
    SlovnetPack.dumpAll(pack, dir)
    // rewrite every vocab member the way the reference writes them:
    // one `item + "\n"` per line -> file ends with a newline
    val tarFile = new java.io.File(dir, "morph.tar")
    val members = Tar.read(tarFile).map {
      case (name, bytes) if name.startsWith("vocabs/") =>
        val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
        val txt = new String(in.readAllBytes(), "UTF-8")
        val withNl = if (txt.endsWith("\n")) txt else txt + "\n"
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(withNl.getBytes("UTF-8")); gz.close()
        name -> bos.toByteArray
      case kv => kv
    }
    Tar.write(tarFile, members)
    val loaded = SlovnetPack.loadMorph(tarFile, Some(pack.ner.emb.word))
    assert(loaded.tags.items.toSeq == pack.morphTags.items.toSeq,
      "trailing newline must not become an empty vocab item")
  }

  test("reference-layout pack round trip (recursive model.json, exec/pack.py)") {
    import graft.nlp.{Pipeline, SentRow}
    import graft.pack.SlovnetPack
    val pack = graft.pack.SynthPack.build()
    val rows = Seq("Иван Петров купил завод в Москве.", "«Газпром» открыл филиал.",
      "директор Газпрома возглавил проект.", "Анна Иванова — лидер.")
      .zipWithIndex.map { case (t, i) => SentRow(s"d$i", 0, 0, 0, t.length, t) }
    def sig(ps: Seq[graft.nlp.ParsedSent]) =
      ps.map(p => (p.nerSpans.toSeq, p.morph.toSeq, p.syn.toSeq))
    val want = sig(Pipeline.inferBatch(rows, pack))

    // navec embedded: loads standalone
    val full = java.nio.file.Files.createTempDirectory("slovnet_full").toFile
    SlovnetPack.dumpAll(pack, full)
    val loadedFull = SlovnetPack.loadAll(full)
    assert(sig(Pipeline.inferBatch(rows, loadedFull)) == want)

    // navec stripped (released-pack shape): requires injection, shares one
    // embedding instance across the three models after assemble
    val stripped = java.nio.file.Files.createTempDirectory("slovnet_stripped").toFile
    SlovnetPack.dumpAll(pack, stripped, stripNavec = true)
    intercept[IllegalArgumentException](SlovnetPack.loadAll(stripped))
    val loaded = SlovnetPack.loadAll(stripped, Some(pack.ner.emb.word))
    assert(loaded.sharedEmb, "navec weight sharing must survive the round trip")
    assert(sig(Pipeline.inferBatch(rows, loaded)) == want)

    // member layout is exactly the reference's
    val names = graft.pack.Tar.read(new java.io.File(full, "ner.tar")).map(_._1)
    assert(names.head == "meta.json" && names.contains("model.json"))
    assert(names.count(_.startsWith("arrays/")) > 5)
    assert(names.count(_.startsWith("vocabs/")) == 3)

    // protocol reject on the reference layout too
    val members = graft.pack.Tar.read(new java.io.File(full, "ner.tar")).map {
      case ("meta.json", b) =>
        "meta.json" -> new String(b, "UTF-8").replace(": 1", ": 99").getBytes("UTF-8")
      case kv => kv
    }
    val bad = new java.io.File(full, "bad.tar")
    graft.pack.Tar.write(bad, members)
    intercept[IllegalArgumentException](SlovnetPack.loadNer(bad))
  }
}

class ScoresSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("F1 aggregator semantics (score.py:56-81)") {
    import spark.implicits._
    // 3 predicted, 4 gold, 2 hits -> P=2/3 R=2/4
    val data = Seq((true, true), (true, true), (true, false),
      (false, true), (false, true)).toDS()
    val got = data.select(new graft.eval.F1Agg().toColumn).head()
    assert(math.abs(got.precision - 2.0 / 3) < 1e-9)
    assert(math.abs(got.recall - 0.5) < 1e-9)
  }

  test("UAS/LAS aggregator semantics (score.py:109-117)") {
    import spark.implicits._
    // (predHead, goldHead, predRel, goldRel): 2/4 head hits, 1/4 both
    val data = Seq((1, 1, "obj", "obj"), (2, 2, "obj", "nsubj"),
      (3, 0, "obj", "obj"), (0, 2, "root", "root")).toDS()
    val got = data.select(new graft.eval.UasLasAgg().toColumn).head()
    assert(got.uas == 0.5 && got.las == 0.25, got.toString)
  }

  test("top-k accuracy aggregator (score.py:84-106), first-index ties") {
    import spark.implicits._
    val rows = Seq(
      (Array(0.1f, 0.9f, 0.3f), 1),  // rank 0 -> in top-2
      (Array(0.9f, 0.1f, 0.3f), 1),  // rank 2 -> out
      (Array(0.5f, 0.5f, 0.1f), 1),  // tie: index 0 outranks -> rank 1 -> in
      (Array(0.5f, 0.5f, 0.1f), 0))  // tie: rank 0 -> in
    val ds = rows.toDS()
    assert(ds.select(new graft.eval.TopkAccAgg(2).toColumn).head() == 0.75)
    assert(ds.select(new graft.eval.TopkAccAgg(1).toColumn).head() == 0.5)
    assert(ds.select(new graft.eval.TopkAccAgg(3).toColumn).head() == 1.0)
  }

  test("score meters: per-type NER F1 + morph acc + metrics board round trip") {
    import spark.implicits._
    import graft.eval.Meters
    // NERScoreMeter analogue: PER 1 hit of 2 pred / 2 gold; ORG clean miss
    val pred = Seq(("d0", 0, 0, 4, "PER"), ("d0", 0, 10, 14, "PER"),
      ("d0", 0, 20, 24, "ORG")).toDF("doc_id", "sent_idx", "start", "stop", "type")
    val gold = Seq(("d0", 0, 0, 4, "PER"), ("d0", 0, 30, 34, "PER"),
      ("d1", 0, 5, 9, "LOC")).toDF("doc_id", "sent_idx", "start", "stop", "type")
    val f1 = Meters.nerTypeF1(pred, gold).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(f1("PER") == ((0.5, 0.5, 0.5)))
    assert(f1("ORG") == ((0.0, 0.0, 0.0))) // predicted, no gold
    assert(f1("LOC") == ((0.0, 0.0, 0.0))) // gold, no prediction
    // MorphScoreMeter analogue
    val m = Seq(("NOUN", "NOUN"), ("VERB", "NOUN"), ("ADJ", "ADJ"), ("X", "X"))
      .toDF("pred_tag", "gold_tag")
    assert(Meters.morphAccuracy(m) == 0.75)
    // SyntaxScoreMeter analogue (delegates to UasLasAgg)
    val s = Seq((1, 1, "obj", "obj"), (2, 0, "nsubj", "nsubj"))
      .toDF("pred_head", "gold_head", "pred_rel", "gold_rel")
    assert(Meters.syntaxUasLas(s) == ((0.5, 0.5)))
    // board: log two steps, re-log step 1 (idempotent overwrite), read back
    val dir = java.nio.file.Files.createTempDirectory("board").toString
    Meters.log(spark, dir, "run-a", 1L, Map("f1_PER" -> 0.4, "acc" -> 0.9))
    Meters.log(spark, dir, "run-a", 2L, Map("f1_PER" -> 0.6))
    Meters.log(spark, dir, "run-a", 1L, Map("f1_PER" -> 0.5, "acc" -> 0.9)) // retry
    val board = Meters.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(board == Set(("run-a", 1L, "f1_PER", 0.5), ("run-a", 1L, "acc", 0.9),
      ("run-a", 2L, "f1_PER", 0.6)))
    // run ids outside the path-safe charset survive the escape round trip
    // (read applies the documented inverse of escape)
    val wild = "run 2026/08: загрузка №7 100%"
    Meters.log(spark, dir, wild, 3L, Map("acc" -> 1.0))
    val got = Meters.read(spark, dir).where("step = 3")
      .select("run_id").collect().map(_.getString(0)).toSeq
    assert(got == Seq(wild), s"run_id must read back verbatim, got $got")
  }

  test("pipeline triples reach P/R >= 0.95 vs golden (BASELINE gate)") {
    import spark.implicits._
    import graft.corpus.RuCorpus
    val nDocs = 60L
    val pred = graft.kg.Kg.triples(graft.nlp.Pipeline.parse(
        graft.sources.Docs.sentences(graft.sources.Docs.russianDocs(spark, nDocs)),
        SparkEntry.packBc(spark)))
      .map(t => (t.docId, t.spanOrder.toLong, t.subj, t.pred, t.obj))
      .toDF("doc_id", "sent_key", "subj", "pred", "obj")
    val gold = spark.range(nDocs).flatMap { id =>
      val spans = RuCorpus.docSpans(id)
      spans.zipWithIndex.collect { case (s, order) if s.kind == "text" =>
        val textIdx = spans.take(order).count(_.kind == "text")
        RuCorpus.goldenTriples(id, textIdx).map(g =>
          (s"d$id", order.toLong, g.subj, g.pred, g.obj))
      }.flatten
    }.toDF("doc_id", "sent_key", "subj", "pred", "obj")
    val prf = graft.eval.TripleEval.prf1(pred, gold)
    assert(prf.precision >= 0.95 && prf.recall >= 0.95, prf.toString)
    assert(prf.f1 == 1.0, prf.toString) // exact by construction
  }
}

class StreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("incremental streaming processes new files exactly once") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("stream_in").toString
    val out = java.nio.file.Files.createTempDirectory("stream_out").toString
    val docs = graft.sources.Docs.russianDocs(spark, 40L).cache()
    docs.where($"doc_id".substr(2, 10).cast("long") < 20).write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val q = graft.streaming.IncrementalKg.start(spark, in, out)
      q.awaitTermination(120000)
    }
    runOnce()
    val afterFirst = spark.read.parquet(s"$out/triples_stream").count()
    assert(afterFirst > 0)

    // append the rest; resume from checkpoint -> only new docs processed
    docs.where($"doc_id".substr(2, 10).cast("long") >= 20).write.mode("append").parquet(in)
    runOnce()
    val afterSecond = spark.read.parquet(s"$out/triples_stream")
    val total = afterSecond.count()
    val batchTotal = graft.kg.Kg.link(spark, graft.kg.Kg.triples(
      graft.nlp.Pipeline.parse(graft.sources.Docs.sentences(docs),
        SparkEntry.packBc(spark)))).count()
    assert(total == batchTotal, s"stream=$total batch=$batchTotal")
    // no doc processed twice
    val dups = afterSecond.groupBy("docId", "spanOrder", "sentIdx", "subjId", "pred", "objId")
      .count().where($"count" > 1).count()
    assert(dups == 0)
    docs.unpersist()
  }

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("stream-static enrichment joins the dictionary per micro-batch, stateless") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq(("газпром", "E1"), ("сбер", "E2")).toDF("alias", "entity_id")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = graft.streaming.StreamOps.enrich(
      mem.toDF().toDF("doc_id", "alias"), dim, "alias")
    val q = out.writeStream.format("memory").queryName("enr")
      .outputMode("append").start()
    try {
      mem.addData((1L, "газпром"), (2L, "неизвестно"))
      q.processAllAvailable()
      mem.addData((3L, "сбер")) // second batch joins the same static dim
      q.processAllAvailable()
      val got = spark.table("enr").select("doc_id", "entity_id").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("-"))).toSet
      assert(got == Set((1L, "E1"), (2L, "-"), (3L, "E2")))
    } finally q.stop()
  }

  test("watermarked windowed counts finalize windows and drop late events") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, java.sql.Timestamp)]
    val counts = graft.streaming.StreamOps.windowedCounts(
      mem.toDF().toDF("key", "ts"), "10 seconds", "5 seconds")
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode("append").start()
    try {
      mem.addData(("a", ts(1)), ("a", ts(3)), ("b", ts(12)))
      q.processAllAvailable() // watermark after batch: 12-5 = 7
      mem.addData(("a", ts(25)))
      q.processAllAvailable() // watermark -> 20
      mem.addData(("a", ts(2))) // LATE: far behind watermark 20 — dropped
      q.processAllAvailable() // windows ending <= 20 finalize
      val got = spark.table("wc")
        .select($"w_start".cast("long"), $"key", $"n").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got.contains((0L, "a", 2L)), s"window [0,10) a should count 2 (late row dropped): $got")
      assert(got.contains((10L, "b", 1L)), s"window [10,20) b missing: $got")
      assert(!got.contains((0L, "a", 3L)), "late event was counted")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions by watermark timeout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.StampedEvent]
    val sessions = graft.streaming.StreamOps.sessionize(
      mem.toDS(), gapMs = 10000L, watermarkDelay = "5 seconds")
    val q = sessions.toDF().writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      mem.addData(graft.streaming.StampedEvent("a", ts(1)),
        graft.streaming.StampedEvent("a", ts(4)),
        graft.streaming.StampedEvent("b", ts(2)))
      q.processAllAvailable() // wm -> 0 (max 4 - 5)
      mem.addData(graft.streaming.StampedEvent("flush", ts(30)))
      q.processAllAvailable() // wm -> 25; a times out at 14, b at 12
      mem.addData(graft.streaming.StampedEvent("flush2", ts(60)))
      q.processAllAvailable() // timeouts for a and b fire this batch
      val got = spark.table("sess")
        .select($"key", $"start".cast("long"), $"end".cast("long"), $"n").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got.contains(("a", 1L, 4L, 2L)), s"session a[1,4]x2 missing: $got")
      assert(got.contains(("b", 2L, 2L, 1L)), s"session b[2,2]x1 missing: $got")
    } finally q.stop()
  }

  test("streamingDedup drops cross-batch duplicates within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = graft.streaming.StreamOps.streamingDedup(
      mem.toDF().toDF("doc_id", "text", "ts"), "1 hour")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      mem.addData((1L, "alpha", ts(1)), (2L, "beta", ts(2)), (3L, "alpha", ts(3)))
      q.processAllAvailable() // in-batch dup of "alpha" dropped
      mem.addData((4L, "alpha", ts(10)), (5L, "gamma", ts(11)))
      q.processAllAvailable() // CROSS-batch dup of "alpha" dropped by state
      val got = spark.table("sdedup").select($"doc_id").as[Long].collect().toSet
      assert(got == Set(1L, 2L, 5L), s"expected first-seen docs only: $got")
    } finally q.stop()
  }
}

/** The navec package's own artifact format (public natasha/navec repo):
  * meta.json + vocab.bin + pq.bin in one tar. A user with the released
  * 25 MB navec artifact plus a STRIPPED slovnet pack assembles a working
  * model through this codec (reference: api.py:29-31 injects a Navec
  * loaded by the navec package; exec/model.py:544-557).
  */
class NavecTarSpec extends AnyFunSuite {
  import graft.pack.{NavecTar, SlovnetPack, SynthPack}
  import graft.nlp.{Pipeline, SentRow}

  private def artifactOf(pack: graft.pack.ModelPack, id: String) =
    NavecTar.NavecArtifact(id, pack.wordVocab.items,
      Array.tabulate(pack.wordVocab.size)(i => (1000 - i).toLong max 1L),
      pack.ner.emb.word)

  test("navec tar round trip (u8 centroid ids)") {
    val pack = SynthPack.build()
    val a = artifactOf(pack, "navec_test_v1")
    val f = java.nio.file.Files.createTempDirectory("navec").resolve("navec.tar").toFile
    NavecTar.dump(a, f)
    val b = NavecTar.load(f)
    assert(b.id == a.id)
    assert(b.words.toSeq == a.words.toSeq)
    assert(b.counts.toSeq == a.counts.toSeq)
    assert(java.util.Arrays.equals(b.emb.indexes, a.emb.indexes))
    assert(java.util.Arrays.equals(b.emb.codes, a.emb.codes))
    assert(b.emb.qdim == a.emb.qdim && b.emb.centroids == a.emb.centroids &&
      b.emb.chunk == a.emb.chunk)
    // the binary layout really is the navec package's: 3 flat members
    val names = graft.pack.Tar.read(f).map(_._1)
    assert(names == Seq("meta.json", "vocab.bin", "pq.bin"))
  }

  test("stripped slovnet pack + navec tar assembles a working model") {
    val pack = SynthPack.build()
    val rows = Seq("Иван Петров купил завод в Москве.", "«Газпром» открыл филиал.")
      .zipWithIndex.map { case (t, i) => SentRow(s"d$i", 0, 0, 0, t.length, t) }
    def sig(p: graft.pack.ModelPack) = Pipeline.inferBatch(rows, p)
      .map(x => (x.nerSpans.toSeq, x.morph.toSeq, x.syn.toSeq))
    val want = sig(pack)

    val dir = java.nio.file.Files.createTempDirectory("navec_e2e").toFile
    SlovnetPack.dumpAll(pack, dir, stripNavec = true)
    NavecTar.dump(artifactOf(pack, "navec_test_v1"), new java.io.File(dir, "navec.tar"))

    // ...in a fresh process the user would only have the two artifacts:
    val navec = NavecTar.load(new java.io.File(dir, "navec.tar"))
    val loaded = SlovnetPack.loadAll(dir, Some(navec.emb))
    assert(sig(loaded) == want, "stripped pack + navec artifact must run identically")
  }

  test("u16 centroid ids (centroids > 256) round trip navec tar + slovnet pack") {
    val d = SynthPack.Dims(vocab = 60, qdim = 4, centroids = 300, chunk = 2,
      shapeDim = 6, encDims = Seq(8, 8), kernel = 3, morphTags = 7, rels = 12,
      seed = 11L)
    val pack = SynthPack.buildRandom(d)
    assert(pack.ner.emb.word.indexes16 != null, "u16 path must engage above 256 centroids")
    assert(pack.ner.emb.word.indexes16.exists(id => (id & 0xffff) > 255),
      "fixture must actually exercise ids beyond the u8 range")

    // navec artifact round trip at u16
    val a = artifactOf(pack, "navec_u16")
    val f = java.nio.file.Files.createTempDirectory("navec16").resolve("navec.tar").toFile
    NavecTar.dump(a, f)
    val b = NavecTar.load(f)
    assert(java.util.Arrays.equals(b.emb.indexes16, a.emb.indexes16))
    assert(java.util.Arrays.equals(b.emb.codes, a.emb.codes))

    // slovnet-layout pack round trip at u16 (uint16 dtype in model.json)
    val rows = Seq("w000001 w000002 w000003.", "w000004 w000010.")
      .zipWithIndex.map { case (t, i) => SentRow(s"d$i", 0, 0, 0, t.length, t) }
    def sig(p: graft.pack.ModelPack) = Pipeline.inferBatch(rows, p)
      .map(x => (x.nerSpans.toSeq, x.morph.toSeq, x.syn.toSeq))
    val want = sig(pack)
    val dir = java.nio.file.Files.createTempDirectory("slovnet_u16").toFile
    SlovnetPack.dumpAll(pack, dir)
    val loaded = SlovnetPack.loadAll(dir)
    assert(loaded.ner.emb.word.indexes16 != null)
    assert(sig(loaded) == want, "u16 pack must round trip bit-identically")
  }

  test("out-of-range centroid ids fail loudly at load (validateIds)") {
    val d = SynthPack.Dims(vocab = 40, qdim = 3, centroids = 300, chunk = 2,
      shapeDim = 4, encDims = Seq(8, 8), kernel = 3, morphTags = 5, rels = 10,
      seed = 13L)
    val pack = SynthPack.buildRandom(d)
    val good = artifactOf(pack, "navec_bad")
    // corrupt one id beyond the codebook
    val bad = good.emb.indexes16.clone(); bad(7) = 5000.toShort
    val f = java.nio.file.Files.createTempDirectory("navec_bad").resolve("n.tar").toFile
    NavecTar.dump(good.copy(emb = good.emb.copy(indexes16 = bad)), f)
    val err = intercept[IllegalArgumentException](NavecTar.load(f))
    assert(err.getMessage.contains("centroid id"), err.getMessage)
  }

  test("reference-dims pack round trips the tar layout bit-identically") {
    // the production-shape interop proof: 250K x 300d x 100q navec,
    // CNN [256,128,64] — dumped in the reference tar layout and reloaded
    val pack = SynthPack.buildRandom()
    val rows = Seq("Иван Петров купил завод в Москве.",
      "Анна Иванова — лидер, банкир и инвестор из Казани.")
      .zipWithIndex.map { case (t, i) => SentRow(s"d$i", 0, 0, 0, t.length, t) }
    def sig(p: graft.pack.ModelPack) = Pipeline.inferBatch(rows, p)
      .map(x => (x.nerSpans.toSeq, x.morph.toSeq, x.syn.toSeq))
    val want = sig(pack)
    val dir = java.nio.file.Files.createTempDirectory("slovnet_refdims").toFile
    try {
      SlovnetPack.dumpAll(pack, dir, stripNavec = true) // released-pack shape
      NavecTar.dump(NavecTar.NavecArtifact("navec_refdims",
        pack.wordVocab.items,
        Array.fill(pack.wordVocab.size)(1L), pack.ner.emb.word),
        new java.io.File(dir, "navec.tar"))
      val navec = NavecTar.load(new java.io.File(dir, "navec.tar"))
      val loaded = SlovnetPack.loadAll(dir, Some(navec.emb))
      assert(sig(loaded) == want,
        "reference-dims pack must survive the tar round trip bit-identically")
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}

/** Real-image multimodal path: the fixture PNGs decode back to their
  * generation parameters, resize is an exact nearest-neighbor resample,
  * and the feature extractor's stats equal the closed-form gradient mean.
  */
class MultimodalSpec extends AnyFunSuite {
  import graft.ops.Multimodal
  lazy val spark = TestSpark.spark

  test("generated PNG decodes to formula dims and gradient pixels") {
    val ref = "s3://media/42/1.jpg"
    val (png, w, h) = Multimodal.renderPng(ref)
    val (ew, eh, a) = Multimodal.params(ref)
    assert((w, h) == ((ew, eh)))
    // PNG magic: a REAL image payload, not a byte stub
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == ew && img.getHeight == eh)
    for (y <- 0 until eh; x <- 0 until ew)
      assert(img.getRaster.getSample(x, y, 0) == (a + x + y) % 256)
  }

  test("features: decoded dims + raster mean equal the generation formula") {
    val rows = Multimodal.features(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val ref = r.getAs[String]("media_ref")
      val (w, h, a) = Multimodal.params(ref)
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h,
        s"decoded dims for $ref")
      assert(r.getAs[Long]("n_px") == w.toLong * h)
      var s = 0L
      for (y <- 0 until h; x <- 0 until w) s += (a + x + y) % 256
      assert(r.getAs[Double]("mean_px") == s.toDouble / (w * h), s"mean for $ref")
      val hist = r.getAs[scala.collection.Seq[Float]]("feature")
      assert(math.abs(hist.sum - 1f) < 1e-4, "8-bin histogram must sum to 1")
    }
  }

  test("generated WAV is a real RIFF container and decodes byte-exact") {
    val ref = "s3://media/42/1.jpg"
    val wav = Multimodal.renderWav(ref)
    // RIFF....WAVE magic: a REAL audio container, not a byte stub
    assert(wav(0) == 'R' && wav(1) == 'I' && wav(2) == 'F' && wav(3) == 'F')
    assert(wav(8) == 'W' && wav(9) == 'A' && wav(10) == 'V' && wav(11) == 'E')
    val (rate, n, a, step) = Multimodal.audioParams(ref)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    // header values come from the DECODER, and match the generator
    assert(fmt.getSampleRate.toInt == rate && fmt.getChannels == 1 &&
      fmt.getSampleSizeInBits == 16)
    val bytes = ais.readAllBytes()
    assert(bytes.length == n * 2)
    for (i <- 0 until n) {
      val s = ((bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)).toShort.toInt
      assert(s == ((a + i.toLong * step) % 511L).toInt - 255, s"sample $i")
    }
  }

  test("audioFeatures: decoded stats equal the generation formula") {
    val rows = Multimodal.audioFeatures(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val ref = r.getAs[String]("media_ref")
      val (rate, n, a, step) = Multimodal.audioParams(ref)
      assert(r.getAs[Int]("sample_rate") == rate && r.getAs[Int]("channels") == 1)
      assert(r.getAs[Long]("n_samples") == n.toLong)
      var sumAbs = 0L; var peak = 0
      for (i <- 0 until n) {
        val v = math.abs(((a + i.toLong * step) % 511L).toInt - 255)
        sumAbs += v; if (v > peak) peak = v
      }
      assert(r.getAs[Int]("peak_abs") == peak, s"peak for $ref")
      assert(math.abs(r.getAs[Double]("mean_abs") - sumAbs.toDouble / n) < 1e-6)
      assert(math.abs(r.getAs[Double]("duration_ms") - n * 1000.0 / rate) < 1e-6)
    }
  }

  test("generated GIF is a real multi-frame container; sampling decodes frames") {
    val ref = "s3://media/42/1.jpg"
    val gif = Multimodal.renderGif(ref)
    assert(new String(gif.take(4), "US-ASCII") == "GIF8")
    val (nf, w, h, a) = Multimodal.videoParams(ref)
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    reader.setInput(iis)
    assert(reader.getNumImages(true) == nf) // frame count from the DECODER
    for (f <- 0 until nf) {
      val img = reader.read(f)
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert((img.getRGB(x, y) & 0xff) == (a + 7 * f + x + y) % 256,
          s"frame $f pixel ($x,$y)")
    }
    reader.dispose(); iis.close()
  }

  test("sampleFrames: real GIF path extracts every k-th decoded frame as PNG") {
    import spark.implicits._
    val ref = "s3://media/42/1.jpg"
    val (nf, w, h, a) = Multimodal.videoParams(ref)
    val media = Seq((ref, Multimodal.renderGif(ref))).toDF("media_ref", "payload")
    val out = Multimodal.sampleFrames(media, 2).collect()
      .map(r => r.getAs[Int]("frame_idx") -> r.getAs[Array[Byte]]("payload")).toMap
    assert(out.keySet == (0 until nf by 2).toSet)
    for ((f, png) <- out) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == w && img.getHeight == h)
      assert(img.getRaster.getSample(1, 2, 0) == (a + 7 * f + 3) % 256)
    }
    // non-GIF payload falls back to the documented block stub
    val stub = Multimodal.sampleFrames(
      Seq(("x", Array.fill[Byte](64)(7))).toDF("media_ref", "payload"), 2).collect()
    assert(stub.map(_.getAs[Int]("frame_idx")).sorted.toSeq == Seq(0, 2))
  }

  test("resize: exact nearest-neighbor resample, re-encoded as PNG") {
    val media = Multimodal.mediaTable(spark, "/root/testdata/sf0.001").limit(4)
    val out = Multimodal.resize(media, 8, 5).collect()
    assert(out.nonEmpty)
    val src = media.collect().map(r =>
      r.getAs[String]("media_ref") -> r.getAs[Array[Byte]]("payload")).toMap
    for (r <- out) {
      val ref = r.getAs[String]("media_ref")
      assert(r.getAs[Int]("width") == 8 && r.getAs[Int]("height") == 5)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
      assert(img.getWidth == 8 && img.getHeight == 5)
      val in = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(src(ref)))
      for (y <- 0 until 5; x <- 0 until 8)
        assert(img.getRaster.getSample(x, y, 0) ==
          in.getRaster.getSample(x * in.getWidth / 8, y * in.getHeight / 5, 0))
    }
    // undecodable payload takes the documented stub path, stays total
    import spark.implicits._
    val junk = Seq(("x", Array[Byte](1, 2, 3))).toDF("media_ref", "payload")
    val stub = Multimodal.resize(junk, 4, 4).collect().head
    assert(stub.getAs[Array[Byte]]("payload").length == 16)
  }

  test("frame sampling keeps every k-th block (stub, documented)") {
    import spark.implicits._
    val media = Seq(("v", Array.tabulate[Byte](64)(_.toByte)))
      .toDF("media_ref", "payload")
    val frames = Multimodal.sampleFrames(media, 2).collect()
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 2))
  }
}
