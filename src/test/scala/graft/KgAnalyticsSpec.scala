package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** kg/Analytics invariants on a hand graph; exact values for the
  * fixed-point PageRank contract (the driver oracle re-checks at sf0.01
  * against DuckDB's independent evaluation of the same contract).
  */
class KgAnalyticsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  // d1: A->B, A->C; d2: B->C (parallel preds p/q), C->A; self-loop C->C
  private def triples = {
    import spark.implicits._
    Seq(
      ("d1", 0, 0, "A", "PER", "p", "B", "ORG"),
      ("d1", 1, 0, "A", "PER", "p", "C", "ORG"),
      ("d2", 0, 0, "B", "ORG", "p", "C", "ORG"),
      ("d2", 0, 1, "B", "ORG", "q", "C", "ORG"),
      ("d2", 1, 0, "C", "ORG", "p", "A", "PER"),
      ("d2", 2, 0, "C", "ORG", "p", "C", "ORG")
    ).toDF("docId", "spanOrder", "sentIdx",
      "subj_id", "subj_type", "pred", "obj_id", "obj_type")
  }

  test("degrees: hand-counted profile, zero-filled missing side") {
    val m = kg.Analytics.degrees(triples).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // A: out 2 triples to {B,C}; in 1 from {C}
    assert(m("A") == ((2L, 2L, 1L, 1L, 3L)))
    // B: out 2 (p,q to C); in 1 from A
    assert(m("B") == ((2L, 1L, 1L, 1L, 3L)))
    // C: out 2 (to A and self); in 4 ({A,B,C} sides: A->C, B->C p, B->C q, C->C)
    assert(m("C") == ((2L, 2L, 4L, 3L, 6L)))
  }

  test("pageRank: exact fixed-point values after 1 and 2 iterations") {
    // distinct non-self edges: A->B, A->C, B->C, C->A; odeg A=2, B=1, C=1
    // iter1: contrib(A)=500000 to B,C; contrib(B)=1000000 to C; contrib(C)=1000000 to A
    //   A: 150000 + 850*1000000//1000 = 1000000
    //   B: 150000 + 850*500000//1000  = 575000
    //   C: 150000 + 850*1500000//1000 = 1425000
    val r1 = kg.Analytics.pageRank(triples, iters = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == Map("A" -> 1000000L, "B" -> 575000L, "C" -> 1425000L))
    // iter2: contrib(A)=500000, contrib(B)=575000, contrib(C)=1425000
    //   A: 150000 + 850*1425000//1000 = 150000 + 1211250 = 1361250
    //   B: 150000 + 850*500000//1000  = 575000
    //   C: 150000 + (850*(500000+575000))//1000 = 150000 + 913750 = 1063750
    val r2 = kg.Analytics.pageRank(triples, iters = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2 == Map("A" -> 1361250L, "B" -> 575000L, "C" -> 1063750L))
  }

  test("pageRank: partitioning-invariant (1 vs 8 shuffle partitions)") {
    val a = kg.Analytics.pageRank(triples.coalesce(1), iters = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSortedSet
    val b = kg.Analytics.pageRank(triples.repartition(8), iters = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSortedSet
    assert(a == b)
  }

  test("pageRank: driver-local and distributed paths are bit-identical") {
    val local = kg.Analytics.pageRank(triples, iters = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSortedSet
    val dist = kg.Analytics.pageRank(triples, iters = 4, maxLocalEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSortedSet
    assert(local == dist)
  }

  implicit private class Sorted(xs: Array[(String, Long)]) {
    def toSortedSet: Seq[(String, Long)] = xs.toSeq.sorted
  }

  test("personalizedPageRank: exact values, seed-only teleport, local==distributed") {
    import org.apache.spark.sql.functions.col
    val seeds = triples.where(col("subj_type") === "PER")
      .select(col("subj_id").as("entity_id")) // {A}
    // rank0: A=1e6, B=C=0.  iter1 sums: B=5e5, C=5e5, A=0
    //   A = 150000, B = C = 850*500000//1000 = 425000
    val r1 = kg.Analytics.personalizedPageRank(triples, seeds, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == Map("A" -> 150000L, "B" -> 425000L, "C" -> 425000L))
    // iter2 sums: B = 150000/2 = 75000, C = 75000+425000 = 500000, A = 425000
    //   A = 150000+361250 = 511250, B = 63750, C = 425000
    val r2 = kg.Analytics.personalizedPageRank(triples, seeds, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2 == Map("A" -> 511250L, "B" -> 63750L, "C" -> 425000L))
    val dist = kg.Analytics.personalizedPageRank(triples, seeds, iters = 3,
      maxLocalEdges = 0L).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val loc = kg.Analytics.personalizedPageRank(triples, seeds, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist == loc)
  }

  test("hits: exact fixed-point hub/auth values after 1 and 2 iterations") {
    // distinct non-self edges: A->B, A->C, B->C, C->A; hub0 = 10^6 each
    // iter1 aRaw: A<-C 1e6, B<-A 1e6, C<-A+B 2e6; max 2e6
    //   auth: A 500000, B 500000, C 1000000
    // iter1 hRaw: A auth(B)+auth(C)=1.5e6, B auth(C)=1e6, C auth(A)=5e5; max 1.5e6
    //   hub: A 1000000, B 666666, C 333333
    val r1 = kg.Analytics.hits(triples, iters = 1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(r1 == Map(
      "A" -> ((1000000L, 500000L)),
      "B" -> ((666666L, 500000L)),
      "C" -> ((333333L, 1000000L))))
    // iter2 aRaw: A<-C 333333, B<-A 1e6, C<-A+B 1666666; max 1666666
    //   auth: A 199999, B 600000, C 1000000
    // iter2 hRaw: A 1600000, B 1000000, C 199999; max 1600000
    //   hub: A 1000000, B 625000, C 124999
    val r2 = kg.Analytics.hits(triples, iters = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(r2 == Map(
      "A" -> ((1000000L, 199999L)),
      "B" -> ((625000L, 600000L)),
      "C" -> ((124999L, 1000000L))))
  }

  test("hits: driver-local and distributed paths are bit-identical") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(key(kg.Analytics.hits(triples, iters = 3)) ==
      key(kg.Analytics.hits(triples, iters = 3, maxLocalEdges = 0L)))
    // and partitioning-invariant on the distributed path
    assert(key(kg.Analytics.hits(triples.repartition(8), iters = 3,
        maxLocalEdges = 0L)) ==
      key(kg.Analytics.hits(triples.coalesce(1), iters = 3)))
  }

  test("kCore: randomized equivalence vs an in-test fixpoint peeler") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 40
    val edges = (0 until 120).map(_ => (rnd.nextInt(n), rnd.nextInt(n)))
      .filter { case (a, b) => a != b }.distinct
    val t = edges.zipWithIndex.map { case ((a, b), i) =>
      (s"d$i", 0, 0, s"N$a", "ORG", "p", s"N$b", "ORG")
    }.toDF("docId", "spanOrder", "sentIdx",
      "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    // in-test twin: iterate undirected peeling to the true fixpoint
    def fixpoint(k: Int): Map[String, Int] = {
      var und = edges.flatMap { case (a, b) => Seq((s"N$a", s"N$b"), (s"N$b", s"N$a")) }.distinct
      var changed = true
      while (changed) {
        val deg = und.groupBy(_._1).map { case (v, es) => v -> es.size }
        val keep = deg.collect { case (v, d) if d >= k => v }.toSet
        val nxt = und.filter { case (a, b) => keep(a) && keep(b) }
        changed = nxt.size != und.size
        und = nxt
      }
      und.groupBy(_._1).map { case (v, es) => v -> es.size }
    }
    for (k <- Seq(2, 3, 4)) {
      val got = kg.Analytics.kCore(t, k = k, rounds = 16).collect()
        .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
      assert(got == fixpoint(k), s"k=$k")
    }
  }

  test("kCore: pendant peeled, fixpoint rounds are no-ops, empty past max core") {
    import spark.implicits._
    // toy graph + pendant D-A: undirected degrees A=3(B,C,D), B=2, C=2, D=1
    val t = triples.unionByName(Seq(
      ("d3", 0, 0, "D", "PER", "p", "A", "ORG")
    ).toDF("docId", "spanOrder", "sentIdx",
      "subj_id", "subj_type", "pred", "obj_id", "obj_type"))
    // k=2: round 1 peels D, A's degree drops to 2 -> {A,B,C} all at 2
    val m = kg.Analytics.kCore(t, k = 2, rounds = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("A" -> 2L, "B" -> 2L, "C" -> 2L))
    // extra rounds past the fixpoint change nothing
    val m3 = kg.Analytics.kCore(t, k = 2, rounds = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m3 == m)
    // k above the max core empties the graph
    assert(kg.Analytics.kCore(t, k = 3, rounds = 2).count() == 0)
  }

  test("coMentions: doc-distinct pairs, ordered, thresholded") {
    val m = kg.Analytics.coMentions(triples, minDocs = 1).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // d1 mentions {A,B,C}; d2 mentions {A,B,C} (C->A brings A) => each pair in 2 docs
    assert(m == Map(("A", "B") -> 2L, ("A", "C") -> 2L, ("B", "C") -> 2L))
    assert(kg.Analytics.coMentions(triples, minDocs = 3).count() == 0)
  }

  test("twoHopPaths: path counts over the distinct predicate multigraph") {
    val m = kg.Analytics.twoHopPaths(triples).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // distinct (s,p,o): A-p->B, A-p->C, B-p->C, B-q->C, C-p->A, C-p->C.
    // (A,C): A->B->{p,q}->C (2) + A->C->C self-loop (1) = 3
    // (B,A): B-{p,q}->C->A = 2;  (B,C): B-{p,q}->C->C = 2
    // (C,B): C->A->B = 1;        (C,A): C->C->A = 1
    // excluded by src!=dst: A->C->A, C->A->C, C->C->C
    assert(m == Map(
      ("A", "C") -> 3L, ("B", "A") -> 2L, ("B", "C") -> 2L,
      ("C", "A") -> 1L, ("C", "B") -> 1L))
  }

  test("twoHopPaths undirected: matches a brute-force over symmetrized edges") {
    val fwd = Set(("A", "p", "B"), ("A", "p", "C"), ("B", "p", "C"),
      ("B", "q", "C"), ("C", "p", "A"), ("C", "p", "C"))
    val edges = fwd ++ fwd.map { case (s, p, o) => (o, p, s) }
    val expected = (for {
      (s1, p1, o1) <- edges.toSeq; (s2, p2, o2) <- edges.toSeq
      if o1 == s2 && s1 != o2
    } yield (s1, o2)).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val m = kg.Analytics.twoHopPaths(triples, undirected = true).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(m == expected)
  }

  test("predicateStats: counts per predicate") {
    val m = kg.Analytics.predicateStats(triples).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m("p") == ((5L, 3L, 3L, 2L)))
    assert(m("q") == ((1L, 1L, 1L, 1L)))
  }

  // triangle A-B-C plus pendant D-E: hand-traced synchronous LPA
  private def lpaTriples = {
    import spark.implicits._
    Seq(("dx", "A", "p", "B"), ("dx", "B", "p", "C"), ("dx", "A", "p", "C"),
      ("dx", "D", "p", "E"))
      .toDF("docId", "subj_id", "pred", "obj_id")
  }

  test("labelProp: hand-traced rounds, components never merge") {
    // r1: A<-min(B,C)=B, B<-min(A,C)=A, C<-min(A,B)=A; D<-E, E<-D
    val r1 = kg.Analytics.labelProp(lpaTriples, iters = 1).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(r1 == Map("A" -> "B", "B" -> "A", "C" -> "A", "D" -> "E", "E" -> "D"))
    // r2: A sees {A,A}->A; B sees {B,A}->tie max1 min=A; C sees {B,A}->A;
    //     D/E swap back
    val r2 = kg.Analytics.labelProp(lpaTriples, iters = 2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(r2 == Map("A" -> "A", "B" -> "A", "C" -> "A", "D" -> "D", "E" -> "E"))
  }

  test("labelProp: driver-local and distributed paths are bit-identical") {
    val local = kg.Analytics.labelProp(lpaTriples, iters = 3).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val dist = kg.Analytics.labelProp(lpaTriples, iters = 3, maxLocalEdges = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(local == dist)
  }

  test("triangles: one triangle + pendant edge; K4 has 4, each vertex in 3") {
    import spark.implicits._
    val g1 = Seq(("A", "B"), ("B", "C"), ("A", "C"), ("C", "D")).toDF("e1", "e2")
    val m1 = kg.Analytics.triangles(g1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m1 == Map("A" -> 1L, "B" -> 1L, "C" -> 1L))
    val k4 = Seq(("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"), ("B", "D"),
      ("C", "D")).toDF("e1", "e2")
    val m4 = kg.Analytics.triangles(k4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m4 == Map("A" -> 3L, "B" -> 3L, "C" -> 3L, "D" -> 3L))
  }

  test("triangles: randomized equivalence vs brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val nodes = (0 until 20).map(i => f"n$i%02d")
    val pairs = (for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if rnd.nextDouble() < 0.25
    } yield (nodes(i), nodes(j))).toList
    val got = kg.Analytics.triangles(pairs.toDF("e1", "e2")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val es = pairs.toSet
    def conn(a: String, b: String) =
      es(if (a < b) (a, b) else (b, a))
    val expected = (for {
      i <- nodes.indices; j <- (i + 1) until nodes.length; l <- (j + 1) until nodes.length
      if conn(nodes(i), nodes(j)) && conn(nodes(j), nodes(l)) && conn(nodes(i), nodes(l))
    } yield Seq(nodes(i), nodes(j), nodes(l))).flatten
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == expected)
  }

  test("triangles: 1000-degree hub — orientation bounds wedges, no BNLJ") {
    import spark.implicits._
    // adversarial skew: one hub wired to 1000 leaves, plus a chain among
    // the first 11 leaves so each chain edge closes a triangle with the
    // hub. A naive wedge join builds C(1000,2) ≈ 500k wedge candidates at
    // the hub; degree-ordered orientation builds ZERO there (all hub
    // edges point INTO the hub, and wedges form only at out-degree ≥ 2).
    val leaves = (0 until 1000).map(i => f"n$i%04d")
    val star = leaves.map(l => (l, "zhub")) // hub sorts AFTER every leaf
    val chain = (0 until 10).map(i => (leaves(i), leaves(i + 1)))
    val pairs = (star ++ chain).toDF("e1", "e2")

    val df = kg.Analytics.triangles(pairs)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"triangle join must stay equi-join under skew:\n$plan")

    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = (0 until 10).flatMap(i =>
      Seq(leaves(i), leaves(i + 1), "zhub"))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == expected) // hub in all 10 triangles, chain ends in 1 ...

    // wedge-fan-out bound, computed with the SAME (deg, id) orientation
    // the operator uses: sum over vertices of C(outdeg, 2) must stay
    // O(edges) — not the O(maxdeg^2) a naive formulation pays.
    val es = star ++ chain
    val deg = es.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    import scala.math.Ordering.Implicits._
    val outdeg = es.groupBy { case (u, v) =>
      if ((deg(u), u) < ((deg(v), v))) u else v
    }.map { case (k, vs) => k -> vs.size }
    assert(!outdeg.contains("zhub"), "hub must have zero out-edges")
    val wedges = outdeg.values.map(d => d.toLong * (d - 1) / 2).sum
    assert(wedges <= 2L * es.size,
      s"oriented wedge count $wedges must be O(edges)=${es.size}")
  }

  private def seedsOf(ids: String*) = {
    import spark.implicits._
    ids.toDF("entity_id")
  }

  test("bfsDistances: directed hop distances, horizon-bounded") {
    val m = kg.Analytics.bfsDistances(triples, seedsOf("B"), maxHops = 2)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // directed distinct edges: A->B, A->C, B->C, C->A
    assert(m == Map("B" -> 0, "C" -> 1, "A" -> 2))
    val one = kg.Analytics.bfsDistances(triples, seedsOf("B"), maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(one == Map("B" -> 0, "C" -> 1)) // A outside the horizon: absent
  }

  test("bfsDistances: undirected, multi-seed min wins") {
    val m = kg.Analytics.bfsDistances(triples, seedsOf("A", "B"),
      maxHops = 3, undirected = true)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(m == Map("A" -> 0, "B" -> 0, "C" -> 1))
  }

  test("neighborJaccard: hand-computed sets; hub cap empties the wedge join") {
    // undirected neighbor sets (self-loop dropped): A:{B,C} B:{A,C} C:{A,B}
    val rows = kg.Analytics.neighborJaccard(triples).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(rows.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    rows.values.foreach { case (common, sz1, sz2, jac) =>
      assert(common == 1L && sz1 == 2L && sz2 == 2L)
      assert(jac == 1.0 / 3.0) // exact IEEE: 1/(2+2-1), same op order as SQL
    }
    // every neighbor is shared by 2 entities -> a cap of 1 drops them all
    assert(kg.Analytics.neighborJaccard(triples, hubCap = 1).count() == 0L)
  }

  test("randomWalks: deterministic, partition-invariant, sink-terminated") {
    import spark.implicits._
    // independent in-test twin of the walk contract
    def poly(s: String): Long = {
      var h = 1125899906842597L
      s.foreach(c => h = 31 * h + c); h
    }
    val edges = Map( // distinct non-self edges of `triples`
      "A" -> Vector("B", "C"), "B" -> Vector("C"), "C" -> Vector("A"))
    val expected = for {
      start <- edges.keys.toSeq; wn <- 0 until 2
    } yield {
      var cur = start
      val path = scala.collection.mutable.ArrayBuffer((start, wn, 0, start))
      for (i <- 1 to 3 if edges.contains(cur)) {
        val nb = edges(cur)
        cur = nb(Math.floorMod(poly(s"42:$cur:$i:$wn"), nb.size).toInt)
        path += ((start, wn, i, cur))
      }
      path.toSeq
    }
    val want = expected.flatten.toSet
    val got = kg.Analytics.randomWalks(triples, 2, 3, 42L)
      .as[(String, Int, Int, String)].collect().toSet
    assert(got == want)
    // partitioning must not change a single step
    val sp = spark
    val prev = sp.conf.get("spark.sql.shuffle.partitions")
    try {
      sp.conf.set("spark.sql.shuffle.partitions", "1")
      val got1 = kg.Analytics.randomWalks(triples, 2, 3, 42L)
        .as[(String, Int, Int, String)].collect().toSet
      assert(got1 == want)
    } finally sp.conf.set("spark.sql.shuffle.partitions", prev)
    // sink node stops the walk early: X->Y, Y has no out-edges
    val sink = Seq(("d9", 0, 0, "X", "PER", "p", "Y", "ORG"))
      .toDF("docId", "spanOrder", "sentIdx",
        "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    val srows = kg.Analytics.randomWalks(sink, 1, 3, 7L)
      .as[(String, Int, Int, String)].collect().toSet
    assert(srows == Set(("X", 0, 0, "X"), ("X", 0, 1, "Y")))
  }

  test("adjacency: uncapped lists, hub capped to first-k slice, true degree kept") {
    import spark.implicits._
    // hub H with 50 distinct out-neighbors (plus duplicates and a
    // self-loop that must vanish); normal node A with 2
    val hubEdges = (0 until 50).map(i => ("dH", 0, 0, "H", "PER", "p", f"n$i%03d", "ORG"))
    val dupAndSelf = Seq(
      ("dH", 1, 0, "H", "PER", "q", "n000", "ORG"), // dup neighbor, other pred
      ("dH", 2, 0, "H", "PER", "p", "H", "PER"),    // self-loop dropped
      ("dA", 0, 0, "A", "PER", "p", "B", "ORG"),
      ("dA", 1, 0, "A", "PER", "p", "C", "ORG"))
    val t = (hubEdges ++ dupAndSelf).toDF("docId", "spanOrder", "sentIdx",
      "subj_id", "subj_type", "pred", "obj_id", "obj_type")

    // uncapped: full sorted distinct lists, nothing truncated
    val full = kg.Analytics.adjacency(t).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        r.getSeq[String](2).toSeq, r.getBoolean(3))).toMap
    assert(full("H") == ((50L, (0 until 50).map(i => f"n$i%03d"), false)))
    assert(full("A") == ((2L, Seq("B", "C"), false)))

    // capped: hub keeps the lexicographically FIRST 10 with its TRUE
    // degree and the truncated flag; A is untouched
    val capped = kg.Analytics.adjacency(t, maxDegree = 10).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        r.getSeq[String](2).toSeq, r.getBoolean(3))).toMap
    assert(capped("H") == ((50L, (0 until 10).map(i => f"n$i%03d"), true)))
    assert(capped("A") == full("A"))
  }

  test("transeSamples: fixed count, corrupted side never equals its replacement, deterministic") {
    val base = triples.select("subj_id", "pred", "obj_id").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val rows = kg.Analytics.transeSamples(triples, negatives = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4), r.getString(5)))
    // exactly `negatives` rows per distinct base triple
    assert(rows.length == base.size * 2)
    rows.groupBy(t => (t._1, t._2, t._3)).foreach { case (k, g) =>
      assert(base(k) && g.map(_._4).sorted.sameElements(Seq(0L, 1L)))
    }
    val ents = base.flatMap(t => Seq(t._1, t._3))
    rows.foreach { case (s, _, o, nn, side, neg) =>
      assert(side == (if (nn % 2 == 0) "obj" else "subj"))
      assert(neg != (if (side == "obj") o else s)) // never the replaced entity
      assert(ents(neg)) // drawn from the entity vocab
    }
    // bit-deterministic under repartitioning (the two-level dense ranking
    // must reproduce the contract order regardless of layout)
    val again = kg.Analytics.transeSamples(triples.repartition(7), negatives = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4), r.getString(5)))
    assert(rows.sorted.sameElements(again.sorted))
  }

  test("neighborSample: exact hash-twin expansion, per-hop independent draws, partition-invariant") {
    // independent in-test twin of the sampling contract
    def poly(s: String): Long = {
      var h = 1125899906842597L
      s.foreach(c => h = 31 * h + c); h
    }
    def sampleK(edges: Map[String, Seq[String]], hop: Int, k: Int) =
      edges.map { case (src, ds) =>
        src -> ds.sortBy(d =>
          (poly(s"sample\u000142\u0001$hop\u0001$src\u0001$d"), d)).take(k)
      }
    val edges = Map( // distinct non-self edges of `triples`
      "A" -> Vector("B", "C"), "B" -> Vector("C"), "C" -> Vector("A"))
    val s1 = sampleK(edges, 1, 1)
    val s2 = sampleK(edges, 2, 2)
    val f1 = s1.toSeq.flatMap { case (src, ds) =>
      ds.map(d => (src, 1, src, d)) }
    val f2 = f1.flatMap { case (seed, _, _, child) =>
      s2.getOrElse(child, Nil).map(d => (seed, 2, child, d)) }
    val want = (f1 ++ f2).toSet

    import spark.implicits._
    val got = kg.Analytics.neighborSample(triples, Seq(1, 2), 42L)
      .as[(String, Int, String, String)].collect().toSet
    assert(got == want)
    // fanout 1 at hop 1 but 2 at hop 2: the hop-2 draw must be an
    // INDEPENDENT sample (hash keyed by hop), not the hop-1 pick again —
    // A's hop-2 expansion from its single hop-1 child carries that
    // child's full 2-sample
    assert(f2.nonEmpty)
    // partitioning must not change a single sampled edge
    val sp = spark
    val prev = sp.conf.get("spark.sql.shuffle.partitions")
    try {
      sp.conf.set("spark.sql.shuffle.partitions", "1")
      val got1 = kg.Analytics.neighborSample(triples, Seq(1, 2), 42L)
        .as[(String, Int, String, String)].collect().toSet
      assert(got1 == want)
    } finally sp.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("neighborSample: hub capped at k without replacement; sampled edges are real edges") {
    import spark.implicits._
    // hub H with 50 distinct out-neighbors; fanout 5 must keep exactly 5
    // DISTINCT children, all real neighbors, true set chosen by hash rank
    val hubEdges = (0 until 50).map(i =>
      ("dH", i, 0, "H", "PER", "p", f"n$i%03d", "ORG"))
    val t = hubEdges.toDF("docId", "spanOrder", "sentIdx",
      "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    val rows = kg.Analytics.neighborSample(t, Seq(5), 42L)
      .as[(String, Int, String, String)].collect()
    assert(rows.length == 5)
    val children = rows.map(_._4)
    assert(children.distinct.length == 5) // without replacement
    assert(children.forall(c => c.startsWith("n"))) // real neighbors
    assert(rows.forall(r => r._1 == "H" && r._2 == 1 && r._3 == "H"))
  }

  test("storyClusters: transitive co-entity stories, singletons kept, hub cap cuts the mega-story") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // entity sets per doc, materialized as chain triples:
    //   d1{A,B,C} d2{A,B,D} d6{B,D,G} d3{A,E,F} d4{E,F} d5{X,Y}
    // minShared=2: d1-d2 share {A,B}, d2-d6 share {B,D} -> {d1,d2,d6}
    // transitively; d3-d4 share {E,F}; d1-d3 share only {A}; d5 isolated.
    val docs = Map(
      "d1" -> Seq("A", "B", "C"), "d2" -> Seq("A", "B", "D"),
      "d6" -> Seq("B", "D", "G"), "d3" -> Seq("A", "E", "F"),
      "d4" -> Seq("E", "F"), "d5" -> Seq("X", "Y"))
    val t = docs.toSeq.flatMap { case (doc, es) =>
      es.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
        (doc, i, 0, a, "PER", "p", b, "ORG") }
    }.toDF("docId", "spanOrder", "sentIdx",
      "subj_id", "subj_type", "pred", "obj_id", "obj_type")

    val got = kg.Analytics.storyClusters(t, minShared = 2).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(
      "d1" -> (("d1", 3L)), "d2" -> (("d1", 3L)), "d6" -> (("d1", 3L)),
      "d3" -> (("d3", 2L)), "d4" -> (("d3", 2L)),
      "d5" -> (("d5", 1L))))

    // hubCap=2 excludes A (df 3) and B (df 3): d1-d2 now share nothing
    // countable, d2-d6 keep only {D} < 2 -> no edge; d3-d4 keep {E,F}
    val capped = kg.Analytics.storyClusters(t, minShared = 2, hubCap = 2)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(capped == Map(
      "d1" -> (("d1", 1L)), "d2" -> (("d2", 1L)), "d6" -> (("d6", 1L)),
      "d3" -> (("d3", 2L)), "d4" -> (("d3", 2L)),
      "d5" -> (("d5", 1L))))

    // driver-local and distributed CC paths agree (pair edges are tiny
    // here, so force the distributed path via the public run())
    val mentions = t.select(col("docId"),
      explode(array(col("subj_id"), col("obj_id"))).as("e")).distinct()
    val pairs = mentions.as("a").join(mentions.as("b"),
        col("a.e") === col("b.e") && col("a.docId") < col("b.docId"))
      .groupBy(col("a.docId").as("src"), col("b.docId").as("dst"))
      .agg(count(lit(1)).as("n")).where(col("n") >= 2).select("src", "dst")
    val verts = mentions.select(col("docId").as("id")).distinct()
    val dist = kg.ConnectedComponents.run(pairs, verts).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(dist == got.map { case (d, (s, _)) => d -> s })
  }

  test("entityCards: hand-computed profiles, deterministic top-k pred CSV, empty side blank") {
    val m = kg.Analytics.entityCards(triples, topK = 3).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6),
        r.getString(7)))).toMap
    // A: 3 mentions over 2 docs; out {B,C}, in {C}; all-PER; preds p only
    assert(m("A") == (("PER", 3L, 2L, 2L, 1L, "p", "p")))
    // B: p/q tie on the out side breaks by predicate name -> "p,q"
    assert(m("B") == (("ORG", 3L, 2L, 1L, 1L, "p,q", "p")))
    // C: self-loop counts as a neighbor on both sides; in-preds p(3),q(1)
    assert(m("C") == (("ORG", 6L, 2L, 2L, 3L, "p", "p,q")))

    // an entity that never appears as subject gets a BLANK out CSV (and
    // the sink row still joins through the left joins)
    import spark.implicits._
    val sink = Seq(("d9", 0, 0, "X", "PER", "p", "Y", "ORG"))
      .toDF("docId", "spanOrder", "sentIdx",
        "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    val s = kg.Analytics.entityCards(sink).collect()
      .map(r => r.getString(0) -> ((r.getString(6), r.getString(7)))).toMap
    assert(s == Map("X" -> (("p", "")), "Y" -> (("", "p"))))
  }

  test("node2vecWalks: exact weighted-slot twin, partition-invariant, zero-weight termination") {
    import spark.implicits._
    // independent in-test twin of the biased-walk contract
    def poly(s: String): Long = {
      var h = 1125899906842597L
      s.foreach(c => h = 31 * h + c); h
    }
    val edges = Map( // distinct non-self edges of `triples`
      "A" -> Vector("B", "C"), "B" -> Vector("C"), "C" -> Vector("A"))
    val rw = 250L; val iow = 500L
    def walkFrom(start: String, wn: Int): Seq[(String, Int, Int, String)] = {
      var prev = start; var cur = start
      val path = scala.collection.mutable.ArrayBuffer((start, wn, 0, start))
      var i = 1; var live = true
      while (live && i <= 3) {
        edges.get(cur) match {
          case None => live = false
          case Some(nb) =>
            val cands = nb.sorted
            val ws = cands.map { x =>
              if (i == 1) 1000L
              else if (x == prev) rw
              else if (edges.get(prev).exists(_.contains(x))) 1000L
              else iow
            }
            val tot = ws.sum
            if (tot == 0L) live = false
            else {
              val r = Math.floorMod(
                poly(s"n2v\u000142\u0001$i\u0001$wn\u0001$prev\u0001$cur"), tot)
              var cum = 0L; var picked = -1
              for (j <- cands.indices if picked < 0) {
                cum += ws(j); if (r < cum) picked = j
              }
              prev = cur; cur = cands(picked)
              path += ((start, wn, i, cur))
            }
        }
        i += 1
      }
      path.toSeq
    }
    val want = (for (st <- edges.keys.toSeq; wn <- 0 until 2)
      yield walkFrom(st, wn)).flatten.toSet
    val got = kg.Analytics.node2vecWalks(triples, 2, 3, rw, iow, 42L)
      .as[(String, Int, Int, String)].collect().toSet
    assert(got == want)
    // partitioning must not change a single step
    val sp = spark
    val prev = sp.conf.get("spark.sql.shuffle.partitions")
    try {
      sp.conf.set("spark.sql.shuffle.partitions", "1")
      val got1 = kg.Analytics.node2vecWalks(triples, 2, 3, rw, iow, 42L)
        .as[(String, Int, Int, String)].collect().toSet
      assert(got1 == want)
    } finally sp.conf.set("spark.sql.shuffle.partitions", prev)
    // returnWeight=0 forbids the immediate backtrack: on the 2-cycle
    // X<->Y the only step-2 candidate is prev, so every walk ends at
    // step 1 (zero total weight = sink)
    val cyc = Seq(
      ("d9", 0, 0, "X", "PER", "p", "Y", "ORG"),
      ("d9", 1, 0, "Y", "ORG", "p", "X", "PER"))
      .toDF("docId", "spanOrder", "sentIdx",
        "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    val crows = kg.Analytics.node2vecWalks(cyc, 1, 3, 0L, 500L, 7L)
      .as[(String, Int, Int, String)].collect().toSet
    assert(crows == Set(("X", 0, 0, "X"), ("X", 0, 1, "Y"),
      ("Y", 0, 0, "Y"), ("Y", 0, 1, "X")))
  }

  test("predicateSignatures: hand-counted signatures, ppm shares floor and sum <= 10^6 per pred") {
    val m = kg.Analytics.predicateSignatures(triples).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // p: PER->ORG {A->B, A->C} 2 triples 2 pairs; ORG->ORG {B->C, C->C}
    //   2/2; ORG->PER {C->A} 1/1. totals 5 -> floors 400000/400000/200000
    assert(m == Map(
      ("p", "PER", "ORG") -> ((2L, 2L, 400000L)),
      ("p", "ORG", "ORG") -> ((2L, 2L, 400000L)),
      ("p", "ORG", "PER") -> ((1L, 1L, 200000L)),
      ("q", "ORG", "ORG") -> ((1L, 1L, 1000000L))))
    // shares within a predicate never exceed 10^6 in total (floors)
    m.keys.groupBy(_._1).foreach { case (_, ks) =>
      assert(ks.map(k => m(k)._3).sum <= 1000000L)
    }
  }

  test("scc: hand graphs — cycle one SCC, DAG all singletons, two cycles bridged stay apart") {
    import spark.implicits._
    def df(es: Seq[(String, String)]) = es.zipWithIndex.map {
      case ((a, b), i) => (s"d$i", 0, 0, a, "PER", "p", b, "ORG")
    }.toDF("docId", "spanOrder", "sentIdx",
      "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    def got(t: org.apache.spark.sql.DataFrame, maxLocal: Long = 2000000L) =
      kg.Analytics.scc(t, maxLocalEdges = maxLocal).collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // fixture triples: A->B->C->A (self-loop dropped) = one SCC of 3
    assert(got(triples) ==
      Map("A" -> (("A", 3L)), "B" -> (("A", 3L)), "C" -> (("A", 3L))))
    // DAG chain: trim peels everything into singletons
    val dag = df(Seq(("a", "b"), ("b", "c"), ("a", "c")))
    assert(got(dag) == Map("a" -> (("a", 1L)), "b" -> (("b", 1L)),
      "c" -> (("c", 1L))))
    // two 2-cycles joined by a one-way bridge stay separate SCCs
    val two = df(Seq(("a", "b"), ("b", "a"), ("c", "d"), ("d", "c"),
      ("b", "c")))
    assert(got(two) == Map("a" -> (("a", 2L)), "b" -> (("a", 2L)),
      "c" -> (("c", 2L)), "d" -> (("c", 2L))))
  }

  test("scc: randomized equivalence vs mutual-reachability twin; distributed == driver-local") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 24
    val es = (0 until 60).map(_ => (rnd.nextInt(n), rnd.nextInt(n)))
      .filter { case (a, b) => a != b }.distinct
      .map { case (a, b) => (f"N$a%02d", f"N$b%02d") }
    val t = es.zipWithIndex.map { case ((a, b), i) =>
      (s"d$i", 0, 0, a, "PER", "p", b, "ORG")
    }.toDF("docId", "spanOrder", "sentIdx",
      "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    // twin: BFS reachable sets both ways, scc = mutual peers, id = min
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val adj = es.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    val radj = es.groupBy(_._2).map { case (d, xs) => d -> xs.map(_._1) }
    def reach(s: String, g: Map[String, Seq[(String)]]): Set[String] = {
      val seen = scala.collection.mutable.Set(s)
      val q = scala.collection.mutable.Queue(s)
      while (q.nonEmpty) {
        for (w <- g.getOrElse(q.dequeue(), Seq.empty) if !seen(w)) {
          seen += w; q += w
        }
      }
      seen.toSet
    }
    val fwd = nodes.map(v => v -> reach(v, adj.map { case (k, v2) => k -> v2.toSeq })).toMap
    val bwd = nodes.map(v => v -> reach(v, radj.map { case (k, v2) => k -> v2.toSeq })).toMap
    val want = nodes.map { v =>
      val peers = fwd(v).intersect(bwd(v))
      v -> ((peers.min, peers.size.toLong))
    }.toMap
    val local = kg.Analytics.scc(t).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(local == want)
    val dist = kg.Analytics.scc(t, maxLocalEdges = 0L).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(dist == want)
  }

  test("weightedPageRank: exact hand values, degenerate == unweighted, local == distributed") {
    import spark.implicits._
    // a->b w3 (three docs), a->c w1; wsum(a)=4
    // iter1: b = 150000 + 850*((1e6*3)/4)//1000 = 787500; c = 362500; a = 150000
    // iter2: contribs from a (rank 150000): b 112500, c 37500
    //   b = 150000 + 95625 = 245625; c = 150000 + 31875 = 181875
    val t = (0 until 3).map(i => (s"d$i", i, 0, "a", "PER", "p", "b", "ORG")) :+
      (("d9", 0, 0, "a", "PER", "p", "c", "ORG"))
    val df = t.toDF("docId", "spanOrder", "sentIdx",
      "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    val r1 = kg.Analytics.weightedPageRank(df, iters = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == Map("a" -> 150000L, "b" -> 787500L, "c" -> 362500L))
    val r2 = kg.Analytics.weightedPageRank(df, iters = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2 == Map("a" -> 150000L, "b" -> 245625L, "c" -> 181875L))
    // fixture graph: every node's out-edges are equal-weight, so the
    // weighted walk degenerates EXACTLY to the unweighted one
    def key(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    assert(key(kg.Analytics.weightedPageRank(triples, iters = 5)) ==
      key(kg.Analytics.pageRank(triples, iters = 5)))
    // driver-local and distributed paths are bit-identical
    assert(key(kg.Analytics.weightedPageRank(df, iters = 3)) ==
      key(kg.Analytics.weightedPageRank(df, iters = 3, maxLocalEdges = 0L)))
  }

  test("annotationSample: exact hash-rank twin, k cap on hub, partition-invariant") {
    import spark.implicits._
    def poly(s: String): Long = {
      var h = 1125899906842597L
      s.foreach(c => h = 31 * h + c); h
    }
    val ts = Seq(
      ("d1", 0, 0, "A", "p", "B"), ("d1", 1, 0, "A", "p", "C"),
      ("d2", 0, 0, "B", "p", "C"), ("d2", 0, 1, "B", "q", "C"),
      ("d2", 1, 0, "C", "p", "A"), ("d2", 2, 0, "C", "p", "C"))
    val mentions = ts.flatMap { case (d, so, si, s, p, o) =>
      Seq((s, "subj", d, so, si, p, o), (o, "obj", d, so, si, p, s))
    }.distinct
    val want = mentions.groupBy(_._1).flatMap { case (_, ms) =>
      ms.sortBy { case (e, role, d, so, si, p, o) =>
        (poly(s"ann\u000142\u0001$e\u0001$d\u0001$so\u0001$si\u0001$p\u0001$o\u0001$role"),
          d, so, si, p, o, role)
      }.take(3).zipWithIndex.map { case ((e, role, d, so, si, p, o), i) =>
        (e, (i + 1).toLong, role, d, so, si, p, o)
      }
    }.toSet
    val got = kg.Analytics.annotationSample(triples, k = 3, seed = 42L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getInt(4), r.getInt(5), r.getString(6),
        r.getString(7))).toSet
    assert(got == want)
    // repartitioning changes nothing
    val again = kg.Analytics.annotationSample(triples.repartition(7), 3, 42L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getInt(4), r.getInt(5), r.getString(6),
        r.getString(7))).toSet
    assert(again == want)
    // 50-mention hub capped at exactly k distinct mentions
    val hub = (0 until 50).map(i =>
      (s"d$i", i, 0, "H", "PER", "p", f"n$i%03d", "ORG"))
      .toDF("docId", "spanOrder", "sentIdx",
        "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    val hrows = kg.Analytics.annotationSample(hub, k = 3).collect()
      .filter(_.getString(0) == "H")
    assert(hrows.length == 3 &&
      hrows.map(_.getLong(1)).sorted.sameElements(Array(1L, 2L, 3L)))
  }

  test("linkCoverage: hand-counted per-type linked ratios; M: prefix is the only unlinked marker") {
    import spark.implicits._
    val t = Seq(
      ("d1", 0, 0, "Q1", "PER", "p", "M:завод", "ORG"),
      ("d1", 1, 0, "Q1", "PER", "p", "Q2", "ORG"),
      ("d2", 0, 0, "M:иван", "PER", "p", "Q2", "ORG"))
      .toDF("docId", "spanOrder", "sentIdx",
        "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    val m = kg.Analytics.linkCoverage(t).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // PER: 3 mentions, 2 linked -> 666666 ppm; ORG: 3 mentions, 2 linked
    assert(m == Map(
      "PER" -> ((3L, 2L, 666666L)),
      "ORG" -> ((3L, 2L, 666666L))))
  }

  test("shortestPathForest: min-predecessor parents, blank seeds, distances == bfsDistances") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // directed: a->c, b->c, c->d; seeds {a,b}: c picks parent min(a,b)=a
    val t = Seq(("a", "c"), ("b", "c"), ("c", "d")).zipWithIndex.map {
      case ((x, y), i) => (s"d$i", 0, 0, x, "PER", "p", y, "ORG")
    }.toDF("docId", "spanOrder", "sentIdx",
      "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    val got = kg.Analytics.shortestPathForest(t,
        Seq("a", "b").toDF("entity_id"), maxHops = 3).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(got == Map("a" -> ((0, "")), "b" -> ((0, "")),
      "c" -> ((1, "a")), "d" -> ((2, "c"))))
    // fixture graph, undirected, PER seed {A}: both neighbors parent A;
    // distances agree with bfsDistances on the same inputs
    val seeds = triples.where(col("subj_type") === "PER")
      .select(col("subj_id").as("entity_id"))
    val g2 = kg.Analytics.shortestPathForest(triples, seeds, 4,
        undirected = true).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(g2 == Map("A" -> ((0, "")), "B" -> ((1, "A")),
      "C" -> ((1, "A"))))
    val bd = kg.Analytics.bfsDistances(triples, seeds, 4,
        undirected = true).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(g2.view.mapValues(_._1).toMap == bd)
  }

  // ---- driver-local == distributed: generated-input properties ----

  import org.scalacheck.{Gen, Prop, Test}
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

  private def check(name: String, cases: Int, p: Prop): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(res.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(res)}")
  }

  // id prefixes on which Java's String order (UTF-16 units) and Spark's
  // (UTF-8 bytes) disagree: a supplementary character sorts below
  // U+E000..U+FFFF in the first and above them in the second
  private val marks = Seq("a", "z", "\u00e9", "\uE000", "\uFFFD", "\uD83D\uDE00", "\uD800\uDC00")

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Same schema and the same rows as a multiset. */
  private def same(a: DataFrame, b: DataFrame): Prop = {
    def rows(df: DataFrame) = df.collect().toSeq
      .map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
    val (ra, rb) = (rows(a), rows(b))
    Prop((a.schema == b.schema) && ra == rb) :|
      s"schemas ${a.schema.treeString} / ${b.schema.treeString}\nrows $ra\n / $rb"
  }

  /** Triple tables whose docs mention a few entities: two hub entities in
    * most docs, some docs that mention only hubs, optional null entities
    * and a null doc, ids with supplementary characters, and either
    * nullability of the id columns. */
  private val genTriples: Gen[DataFrame] = for {
    nDocs <- Gen.choose(1, 10)
    docMarks <- Gen.listOfN(nDocs, Gen.oneOf(marks))
    entMarks <- Gen.listOfN(6, Gen.oneOf(marks))
    hubMarks <- Gen.listOfN(2, Gen.oneOf(marks))
    withNulls <- Gen.oneOf(false, false, true)
    nullableIds <- Gen.oneOf(false, true)
    ents = entMarks.zipWithIndex.map { case (m, i) => s"${m}e$i" }
    hubs = hubMarks.zipWithIndex.map { case (m, i) => s"${m}H$i" }
    ent = Gen.frequency(Seq(6 -> Gen.oneOf(ents), 3 -> Gen.oneOf(hubs)) ++
      (if (withNulls) Seq(1 -> Gen.const(null: String)) else Nil): _*)
    perDoc <- Gen.listOfN(nDocs, Gen.frequency(
      1 -> Gen.const(List((hubs(0), hubs(1)))),
      5 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.zip(ent, ent)))))
  } yield {
    val rows = docMarks.zip(perDoc).zipWithIndex.flatMap { case ((m, so), d) =>
      val doc = if (withNulls && d == 0) null else s"${m}d$d"
      so.zipWithIndex.map { case ((a, b), i) =>
        Row(doc, i, 0, a, "PER", "p", b, "ORG") }
    }
    def str(n: String, nullable: Boolean) = StructField(n, StringType, nullable)
    val entNullable = withNulls || nullableIds
    frame(StructType(Seq(str("docId", entNullable),
      StructField("spanOrder", IntegerType, false), StructField("sentIdx", IntegerType, false),
      str("subj_id", entNullable), str("subj_type", true), str("pred", true),
      str("obj_id", entNullable), str("obj_type", true))), rows)
  }

  test("storyClusters: driver-local == distributed (hub caps, thresholds 1-3, UTF-8 order)") {
    check("storyClusters", 25, Prop.forAllNoShrink(genTriples, Gen.choose(1L, 3L),
        Gen.choose(1L, 4L)) { (t, minShared, hubCap) =>
      same(kg.Analytics.storyClusters(t, minShared, hubCap),
        kg.Analytics.storyClusters(t, minShared, hubCap, maxLocalPairs = 0))
    })
  }

  test("coMentions: driver-local == distributed (thresholds 1-3, UTF-8 order)") {
    check("coMentions", 25, Prop.forAllNoShrink(genTriples, Gen.choose(1L, 3L)) {
      (t, minDocs) =>
        same(kg.Analytics.coMentions(t, minDocs),
          kg.Analytics.coMentions(t, minDocs, maxLocalPairs = 0))
    })
  }

  test("neighborJaccard: driver-local == distributed (hub caps, thresholds 1-3, UTF-8 order)") {
    check("neighborJaccard", 25, Prop.forAllNoShrink(genTriples, Gen.choose(1L, 3L),
        Gen.choose(1L, 4L)) { (t, minCommon, hubCap) =>
      same(kg.Analytics.neighborJaccard(t, minCommon, hubCap),
        kg.Analytics.neighborJaccard(t, minCommon, hubCap, maxLocalPairs = 0))
    })
  }

  test("blocked pairs: the driver side runs exactly when the rows and pairs fit maxLocalPairs") {
    // 4 shuffle partitions, not coalesced: the bound must count each key
    // whole although the rows spread over partitions
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import s.implicits._
    // star X -> A..F as (neighbor, entity): key X has 6 entities, C(6, 2) =
    // 15 pairs; keys A..F have X only; 12 rows
    val star = Seq("A", "B", "C", "D", "E", "F")
      .map(e => ("d1", 0, 0, "X", "PER", "p", e, "ORG"))
      .toDF("docId", "spanOrder", "sentIdx", "subj_id", "subj_type", "pred", "obj_id", "obj_type")
    def onDriver(hubCap: Long, maxLocalPairs: Long) = kg.Analytics
      .neighborJaccard(star, hubCap = hubCap, maxLocalPairs = maxLocalPairs)
      .queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(onDriver(10, 15) && !onDriver(10, 14)) // the 15 pairs bind
    assert(onDriver(5, 12) && !onDriver(5, 11))   // X is over the cap: the 12 rows bind
  }

  test("ConnectedComponents: runAdaptive == run (UTF-8 order, null endpoints, isolated ids)") {
    def edges(es: Seq[(String, String)]) = frame(StructType(Seq(
      StructField("src", StringType, true), StructField("dst", StringType, true))),
      es.map { case (a, b) => Row(a, b) })
    def verts(ids: Seq[String], nullable: Boolean) =
      frame(StructType(Seq(StructField("id", StringType, nullable))), ids.map(Row(_)))
    // U+FFFD is below U+1F600 in UTF-8 but above its surrogates in UTF-16
    val hand = kg.ConnectedComponents.runAdaptive(
      edges(Seq(("\uFFFD", "\uD83D\uDE00"))), verts(Seq("\uFFFD", "\uD83D\uDE00"), false))
    assert(hand.collect().map(_.getString(1)).toSet == Set("\uFFFD"))

    val ids = for (m <- marks; i <- 0 until 3) yield s"$m$i"
    val end = Gen.frequency(12 -> Gen.oneOf(ids), 1 -> Gen.const(null: String))
    val gen = for {
      es <- Gen.choose(0, 14).flatMap(Gen.listOfN(_, Gen.zip(end, end)))
      isolated <- Gen.someOf(ids)
      dropped <- Gen.someOf(ids)
      nullable <- Gen.oneOf(false, true)
    } yield {
      val vs = (es.flatMap { case (a, b) => Seq(a, b) }.filter(_ != null) ++ isolated)
        .distinct.filterNot(dropped.toSet)
      (edges(es), verts(vs, nullable))
    }
    check("runAdaptive", 30, Prop.forAllNoShrink(gen) { case (e, v) =>
      same(kg.ConnectedComponents.runAdaptive(e, v), kg.ConnectedComponents.run(e, v))
    })
  }

  // ---- the size-adaptive graph loops: driver-local == distributed ----

  private val genIters = Gen.choose(1, 3)

  /** A generated triple table and seeds drawn from its ids plus one absent id. */
  private val genSeeded: Gen[(DataFrame, DataFrame)] = genTriples.flatMap { t =>
    val ids = t.select("subj_id", "obj_id").collect().toSeq
      .flatMap(r => Seq(r.getString(0), r.getString(1))).filter(_ != null).distinct
    Gen.someOf(ids :+ "absent").map(s =>
      (t, frame(StructType(Seq(StructField("entity_id", StringType, true))), s.toSeq.map(Row(_)))))
  }

  test("pageRank: driver-local == distributed (iters 1-3, schema and rows)") {
    check("pageRank", 10, Prop.forAllNoShrink(genTriples, genIters) { (t, iters) =>
      same(kg.Analytics.pageRank(t, iters), kg.Analytics.pageRank(t, iters, maxLocalEdges = 0))
    })
  }

  test("weightedPageRank: driver-local == distributed (iters 1-3, schema and rows)") {
    check("weightedPageRank", 10, Prop.forAllNoShrink(genTriples, genIters) { (t, iters) =>
      same(kg.Analytics.weightedPageRank(t, iters),
        kg.Analytics.weightedPageRank(t, iters, maxLocalEdges = 0))
    })
  }

  test("personalizedPageRank: driver-local == distributed (seeds incl. an absent id, iters 1-3)") {
    check("personalizedPageRank", 10, Prop.forAllNoShrink(genSeeded, genIters) {
      case ((t, seeds), iters) =>
        same(kg.Analytics.personalizedPageRank(t, seeds, iters),
          kg.Analytics.personalizedPageRank(t, seeds, iters, maxLocalEdges = 0))
    })
  }

  test("hits: driver-local == distributed (iters 1-3, schema and rows)") {
    check("hits", 10, Prop.forAllNoShrink(genTriples, genIters) { (t, iters) =>
      same(kg.Analytics.hits(t, iters), kg.Analytics.hits(t, iters, maxLocalEdges = 0))
    })
  }

  test("labelProp: driver-local == distributed (iters 1-3, UTF-8 order)") {
    check("labelProp", 10, Prop.forAllNoShrink(genTriples, genIters) { (t, iters) =>
      same(kg.Analytics.labelProp(t, iters), kg.Analytics.labelProp(t, iters, maxLocalEdges = 0))
    })
  }

  test("scc: driver-local == distributed (UTF-8 order, schema and rows)") {
    check("scc", 10, Prop.forAllNoShrink(genTriples) { t =>
      same(kg.Analytics.scc(t), kg.Analytics.scc(t, maxLocalEdges = 0))
    })
  }

  // U+FFFD is below U+1F600 in UTF-8 but above its surrogates in UTF-16
  private val (fffd, smile) = ("\uFFFD", "\uD83D\uDE00")

  private def edgesOf(es: (String, String)*): DataFrame = {
    import spark.implicits._
    es.map { case (a, b) => ("d", 0, 0, a, "PER", "p", b, "ORG") }
      .toDF("docId", "spanOrder", "sentIdx", "subj_id", "subj_type", "pred", "obj_id", "obj_type")
  }

  test("labelProp: a vote tie goes to the smaller label in UTF-8 order on both sides") {
    val star = edgesOf(("X", fffd), ("X", smile))
    val want = Map("X" -> fffd, fffd -> "X", smile -> "X")
    for (maxLocal <- Seq(2000000L, 0L))
      assert(kg.Analytics.labelProp(star, iters = 1, maxLocalEdges = maxLocal).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap == want)
  }

  test("scc: the component id is the smallest member in UTF-8 order on both sides") {
    val cycle = edgesOf((fffd, smile), (smile, fffd))
    val want = Map(fffd -> ((fffd, 2L)), smile -> ((fffd, 2L)))
    for (maxLocal <- Seq(2000000L, 0L))
      assert(kg.Analytics.scc(cycle, maxLocalEdges = maxLocal).collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap == want)
  }
}
