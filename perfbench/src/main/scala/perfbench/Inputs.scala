package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.corpus.RuCorpus
import graft.sources.{InterleavedDoc, SpanT}
import graft.text.Tokenizer

/** Seeded interleaved documents. The seed picks a contiguous doc-id range
  * far from 0, so each seed gets other documents; the documents themselves
  * come from `RuCorpus.docSpans`, the same generator the program uses.
  */
final case class DocRange(seed: Long, nDocs: Long) {
  val first: Long = (RuCorpus.mix(seed ^ 0x5eedL) >>> 26) + 1000000L
  def ids: Iterator[Long] = Iterator.range(0, nDocs.toInt).map(first + _)

  def docs(spark: SparkSession, slices: Int): Dataset[InterleavedDoc] = {
    import spark.implicits._
    spark.range(first, first + nDocs, 1, slices).as[Long].map { id =>
      InterleavedDoc(s"d$id", RuCorpus.docSpans(id).map(s =>
        SpanT(s.kind, s.text, s.media_ref, s.offset)).toArray)
    }
  }

  /** Writes the documents as `files` parquet files; returns the largest
    * file's size, which the timed scan uses as its split size so that it
    * reads one file per task at every core count.
    */
  def write(spark: SparkSession, dir: String, files: Int): Long = {
    docs(spark, files).write.mode("overwrite").parquet(dir)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).max
  }

  /** Triples planted by construction: span k of a document is its
    * sentence k, and yields `RuCorpus.goldenTriples(id, k)`.
    */
  def goldenTriples: Long =
    ids.map(id => (0 until RuCorpus.nSents(id)).map(k => RuCorpus.goldenTriples(id, k).size.toLong).sum).sum

  def sentences: Long = ids.map(id => RuCorpus.nSents(id).toLong).sum

  /** Input properties every artifact records. `distinct_sentence_share`
    * is the share of sentences whose text is not a repeat: RuCorpus draws
    * from a small memoized sentence space, so a cache keyed on text hits
    * on almost every other sentence.
    */
  def stamp(): Map[String, Any] = {
    var spans = 0L; var media = 0L; var sents = 0L; var tokens = 0L
    val seen = new java.util.HashMap[String, Integer]()
    ids.foreach { id =>
      RuCorpus.docSpans(id).foreach { s =>
        spans += 1
        if (s.kind == "media") media += 1
        else {
          sents += 1
          val n = seen.computeIfAbsent(s.text, t => Integer.valueOf(Tokenizer.tokenize(t).length))
          tokens += n.intValue
        }
      }
    }
    Map("first_doc_id" -> first, "docs" -> nDocs, "sentences" -> sents, "tokens" -> tokens,
      "media_span_share" -> media.toDouble / spans,
      "distinct_sentence_share" -> seen.size.toDouble / sents)
  }

  /** Text spans of the first `n` documents, for single-thread probes. */
  def texts(n: Int): IndexedSeq[String] =
    ids.take(n).flatMap(id => RuCorpus.docSpans(id).filter(_.kind == "text").map(_.text)).toIndexedSeq
}
