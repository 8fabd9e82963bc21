package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SemDeDup (Corpus.semanticDedup) — the paper's central soundness claim
  * on a controllable fixture: when k-means clusters are well separated
  * (inter-cluster cosine far below threshold), restricting the dup-pair
  * search to same-cluster candidates loses NO pairs versus the global
  * LSH-blocked search. Plus survivor-selection invariants and the
  * end-to-end run on the synthetic embeddings table.
  */
class SemDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private val Dim = 64

  /** Two tight vector groups: group A hugs e0, group B hugs e1, with a
    * deterministic per-vector perturbation small enough that intra-group
    * cosine > 0.99 and cross-group cosine < 0.01. Ids interleave groups
    * (even = A, odd = B) so the kmeans init (two lowest vec_ids) seeds
    * one centroid in each group and Lloyd's converges to the true split.
    */
  private def fixture(n: Int): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val axis = i % 2
      val v = Array.fill(Dim)(0.0f)
      v(axis) = 1.0f
      // deterministic tiny noise on dims 2..9, unique per vector
      var d = 2
      while (d < 10) {
        v(d) = (((i * 31 + d * 7) % 11) - 5) * 1e-4f
        d += 1
      }
      (i.toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("cluster-restricted pairs == global pairs on well-separated clusters") {
    val emb = fixture(40)
    val assign = ops.Similarity.kmeans(emb, k = 2, iters = 3)
      .select(col("vec_id"), col("cluster")).localCheckpoint()
    // sanity: kmeans found the two groups (all-even vs all-odd ids)
    val byCluster = assign.collect()
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(byCluster.size == 2)
    assert(byCluster.values.toSet ==
      Set((0L until 40L by 2).toSet, (1L until 40L by 2).toSet))

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val global = ops.Dedup.embeddingDupPairs(emb, 0.9, dim = Dim)
      .collect().map(key).toSet
    val blocked = ops.Dedup.embeddingDupPairs(emb, 0.9, dim = Dim, assign = Some(assign))
      .collect().map(key).toSet
    assert(global.nonEmpty, "fixture should contain intra-group near-dups")
    assert(blocked == global,
      s"cluster restriction changed the pair set: ${blocked.diff(global)} / ${global.diff(blocked)}")
    // no cross-group pair sneaks past the cosine verify
    global.foreach { case (a, b) =>
      assert(a % 2 == b % 2, s"cross-group pair ($a,$b) above threshold")
    }
  }

  test("semanticDedup: precomputed kmeans assignment gives identical output") {
    val emb = fixture(40)
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val scratch = key(ops.Corpus.semanticDedup(emb, threshold = 0.9, k = 2, dim = Dim))
    val assign = ops.Similarity.kmeans(emb, k = 2, iters = 3).localCheckpoint()
    val reused = key(ops.Corpus.semanticDedup(emb, threshold = 0.9, k = 2,
      dim = Dim, assignOpt = Some(assign)))
    assert(reused == scratch)
  }

  test("semanticDedup: one survivor per component, min id, groups intact") {
    val emb = fixture(40)
    val out = ops.Corpus.semanticDedup(emb, threshold = 0.9, k = 2, dim = Dim)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(out.size == 40)
    // survivor rule: keep <=> vec IS its component min; exactly one per comp
    val comps = out.groupBy(_._2._2)
    comps.foreach { case (cid, members) =>
      assert(cid == members.keys.min)
      assert(members.count(_._2._3) == 1)
      assert(members(cid)._3)
    }
    // everything in group A is mutually >0.99 cosine => one component each
    // group, survivors are vec 0 and vec 1
    assert(out.filter(_._2._3).keySet == Set(0L, 1L))
    // sem components never straddle kmeans clusters
    out.groupBy(_._2._2).foreach { case (_, members) =>
      assert(members.values.map(_._1).toSet.size == 1)
    }
  }

  test("semanticDedup on the synthetic embeddings table matches the oracle shape") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = ops.Corpus.semanticDedup(emb, 0.4)
    assert(out.columns.toSeq == Seq("vec_id", "cluster", "sem_cluster", "keep"))
    val rows = out.collect()
    assert(rows.length == emb.count())
    // isolated vectors are their own singleton component and survive
    val kept = rows.count(_.getBoolean(3))
    assert(kept >= 1 && kept <= rows.length)
    // determinism across runs
    val again = ops.Corpus.semanticDedup(emb, 0.4).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }
}
