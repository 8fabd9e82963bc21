package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.RuCorpus
import graft.nlp.SentRow
import graft.text.Tokenizer

/** Interleaved doc span (BASELINE.json input_hint): exactly
  * (kind:string, text:string, media_ref:string, offset:int32).
  */
final case class SpanT(kind: String, text: String, media_ref: String, offset: Int)

final case class InterleavedDoc(doc_id: String, spans: Array[SpanT])

object Docs {

  /** Deterministic Russian corpus as an interleaved table, generated
    * DISTRIBUTEDLY from `spark.range` — content is a pure function of the
    * row id, so this scales to any count with no driver materialization
    * and no skew (ids are uniformly partitioned). `slices` fixes the
    * partition count for granularity probes and layout tests.
    */
  def russianDocs(spark: SparkSession, nDocs: Long,
                  slices: Option[Int] = None): Dataset[InterleavedDoc] = {
    import spark.implicits._
    // splits sized by DATA (like files.maxPartitionBytes on a real scan),
    // NOT by cluster size: 640 docs/slice ≈ one Pipeline sort-buffer fill
    // (~1600 sents), the granularity ClusterProbe measured work-invariant
    // across 8 vs 32 cores. The old defaultParallelism*8 rule made task
    // size shrink as cores grew, inflating per-task overhead + pad waste
    // at the 4N leg (+13% CPU at 32 cores) — a decomposition artifact a
    // real N->4N cluster reading fixed-size splits never sees. The
    // data-sized count is then WAVE-ALIGNED (rounded to a full multiple
    // of the session's core count, task size only coarsening or finening
    // by <= half a wave): a 39-slice input on 32 cores otherwise runs 2
    // waves at 61% occupancy — wave occupancy, not compute, capped the
    // 25k-doc reference-dims leg's 8->32 wall scaling at ~0.61 (guide
    // §2.5 stragglers; a real scheduler over millions of splits never
    // sees a 1.2-wave layout). Bounds: at least one task per core (tiny
    // inputs), at most 256 tasks rounded down to a whole number of waves
    // (local sandbox cap ≈ 8 waves on 32 cores; 256 itself at p = 4, 8,
    // 16, 32; a real 100 TB input brings millions of data-sized splits
    // and no cap).
    // a given `slices` overrides the count — unlike a repartition() it
    // keeps the generate->parse chain one fused object-level stage (no
    // encoder round-trip, no exchange)
    val n = slices.getOrElse {
      val p = spark.sparkContext.defaultParallelism
      val byData = math.min(nDocs / 640, 256L)
      val waves = math.max(1L, math.round(byData.toDouble / p))
      val cap = math.max(p, (256 / p) * p).toLong
      math.min(math.max(p.toLong, waves * p), cap).toInt
    }
    spark.range(0, nDocs, 1, n).as[Long].map { id =>
      // index straight off the array-backed spans — no intermediate
      // mapped collection before the SpanT array
      val sp = RuCorpus.docSpans(id)
      val arr = new Array[SpanT](sp.length)
      var i = 0
      while (i < sp.length) {
        val s = sp(i); arr(i) = SpanT(s.kind, s.text, s.media_ref, s.offset); i += 1
      }
      InterleavedDoc(s"d$id", arr)
    }
  }

  /** Russian corpus for a test-data dir (row count scales with sf). */
  def russianDocs(spark: SparkSession, sfDir: String): Dataset[InterleavedDoc] =
    russianDocs(spark, RuCorpus.docCount(sfDir))

  /** Text spans -> sentences. Media spans are NOT dropped here; they flow
    * around the NLP stage and are reassembled by (doc_id, spanOrder) — the
    * per-row span-sequence invariant (kind, text, media_ref, order) is
    * asserted in tests and via the q_span_invariant query.
    */
  def sentences(docs: Dataset[InterleavedDoc]): Dataset[SentRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { d =>
      val out = new scala.collection.mutable.ArrayBuffer[SentRow](d.spans.length * 2)
      var order = 0
      while (order < d.spans.length) {
        val s = d.spans(order)
        if (s.kind == "text" && s.text != null) {
          val sents = Tokenizer.sentenize(s.text)
          var i = 0
          while (i < sents.length) {
            val sent = sents(i)
            out += SentRow(d.doc_id, order, i, sent.start, sent.stop, sent.text)
            i += 1
          }
        }
        order += 1
      }
      out
    }
  }

  /** Interleaved docs derived from the driver's documents.parquet by a
    * DuckDB-expressible deterministic transform (8-token chunks; a media
    * span after chunk i when (doc_id + i) % 4 == 0). Used by the
    * SQL-oracle-checked passthrough/invariant queries.
    */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val chunks = toks
      .select(col("doc_id"),
        posexplode(sequence(lit(0),
          (ceil(size(col("toks")) / lit(8.0)) - 1).cast("int"))).as(Seq("pos", "i")),
        col("toks"))
      .select(col("doc_id"), col("i"),
        array_join(slice(col("toks"), col("i") * 8 + 1, lit(8)), " ").as("chunk"))
    // each chunk is a text span; media span follows when (doc_id+i)%4==0
    chunks.select(col("doc_id"), col("i"),
      struct(lit("text").as("kind"), col("chunk").as("text"),
        lit(null).cast("string").as("media_ref")).as("span"))
      .unionAll(
        chunks.where((col("doc_id") + col("i")) % 4 === 0)
          .select(col("doc_id"), col("i"),
            struct(lit("media").as("kind"), lit(null).cast("string").as("text"),
              concat(lit("s3://media/"), col("doc_id"), lit("/"), col("i"),
                lit(".bin")).as("media_ref")).as("span")))
      .withColumn("sub", when(col("span.kind") === "media", 1).otherwise(0))
      .select(col("doc_id"), col("i"), col("sub"), col("span"))
  }
}
