package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.Kg

/** The session-keyed memo behind SparkEntry's and Kg's derivations: one
  * value per (session, dir), a session of its own per `newSession()`, and
  * nested derivations that fill cold without a recursive map update.
  */
class SessionCacheSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private val words = Seq("город", "москва", "река", "мост", "дом", "улица",
    "the", "river", "bridge", "house", "street", "city")

  /** A documents table (doc_id, text, lang) of `n` docs from `first` on. */
  private def docsDir(first: Long, n: Int): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("session-cache-spec").toString
    (first until first + n).map { id =>
      val text = (0 until 12).map(j => words(((id * 7 + j * 5) % words.size).toInt)).mkString(" ")
      (id, text, if (id % 2 == 0) "ru" else "en")
    }.toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")
    dir
  }
  private lazy val dirA = docsDir(0L, 30)
  private lazy val dirB = docsDir(1000L, 20)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("a second call with the same session and dir returns the same instance") {
    assert(SparkEntry.lmScore(spark, dirA) eq SparkEntry.lmScore(spark, dirA))
    assert(SparkEntry.bpeMerges6(spark, dirA) eq SparkEntry.bpeMerges6(spark, dirA))
    assert(SparkEntry.packBc(spark) eq SparkEntry.packBc(spark))
    assert(Kg.canonicalMap(spark) eq Kg.canonicalMap(spark))
  }

  test("another dir gets its own frame, built from that dir") {
    val (a, b) = (SparkEntry.lmScore(spark, dirA), SparkEntry.lmScore(spark, dirB))
    assert(a ne b)
    assert(ids(a) == (0L until 30L).toSet)
    assert(ids(b) == (1000L until 1020L).toSet)
  }

  test("newSession() gets its own entries") {
    val other = spark.newSession()
    assert(SparkEntry.lmScore(other, dirA) ne SparkEntry.lmScore(spark, dirA))
    assert(SparkEntry.lmScore(other, dirA) eq SparkEntry.lmScore(other, dirA))
    assert(SparkEntry.packBc(other) ne SparkEntry.packBc(spark))
    assert(Kg.canonicalMap(other) ne Kg.canonicalMap(spark))
  }

  test("a cold nested chain fills without a recursive update") {
    // uniVocab6 -> uniScores6 -> bpeVocab6 -> bpeMerges6, and the
    // linker's alias map -> canonicalMap, all unfilled in a fresh session
    val fresh = spark.newSession()
    val vocab = SparkEntry.uniVocab6(fresh, dirA)
    assert(vocab.count() > 0)
    assert(SparkEntry.uniVocab6(fresh, dirA) eq vocab)
    import fresh.implicits._
    val linked = Kg.link(fresh, Seq(graft.kg.Triple("d", 0, 0,
      "Газпром", "ORG", "is", "нечто", "NOUN")).toDS()).collect()
    assert(linked.map(l => (l.subjId.startsWith("M:"), l.objId)).toSeq == Seq((false, "M:нечто")))
  }
}
