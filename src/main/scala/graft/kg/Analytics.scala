package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Graph analytics over the materialized canonical triple table — the
  * queries a KG-construction user runs right after the build: degree
  * profiles, PageRank entity salience, co-mention mining, multi-hop
  * reachability. All are expressed on the (subj_id, pred, obj_id) +
  * provenance (docId) schema that `Kg.linkCanonicalize` emits.
  *
  * Scale notes (10^12-doc corpus => 10^10..10^11 triples):
  *  - the distributed side of every op below reduces to equi-joins /
  *    hash aggregates on entity ids — AQE handles the hot-entity skew
  *    (high-frequency PER/ORG canonical ids) by splitting oversized
  *    partitions. The one cross join is HITS' broadcast single-row norm.
  *  - some ops also have a driver-side twin, picked by input size: the
  *    graph loops (the three PageRanks, HITS, label propagation, SCC)
  *    through [[loadEdges]], the pair counts (co-mentions, Jaccard,
  *    stories) through [[blockedPairs]]. A twin returns the same rows
  *    and schema as the distributed side, ordering strings as Spark does
  *    ([[sparkOrder]]).
  *  - PageRank uses FIXED-POINT integer arithmetic (micro-units, floor
  *    division) so results are bit-reproducible across partitionings,
  *    retries, and engines — float PageRank depends on summation order,
  *    which a 1000-executor shuffle does not fix. That determinism is
  *    what lets the driver hash-compare against an independent engine.
  */
object Analytics {

  /** Per-entity degree profile: triple mentions and distinct neighbors
    * on each side. ONE scan of the triple table (each triple explodes to
    * its two sides), one two-phase hash aggregate with conditional
    * distinct counts — no join, and the source pipeline/scan runs once.
    */
  def degrees(triples: DataFrame): DataFrame =
    triples
      .select(explode(array(
        struct(col("subj_id").as("entity_id"), col("obj_id").as("other"),
          lit(true).as("out")),
        struct(col("obj_id").as("entity_id"), col("subj_id").as("other"),
          lit(false).as("out")))).as("m"))
      .select(col("m.entity_id"), col("m.other"), col("m.out"))
      .groupBy("entity_id")
      .agg(
        count(when(col("out"), 1)).as("out_mentions"),
        countDistinct(when(col("out"), col("other"))).as("out_neighbors"),
        count(when(!col("out"), 1)).as("in_mentions"),
        countDistinct(when(!col("out"), col("other"))).as("in_neighbors"),
        count(lit(1)).as("total_mentions"))

  /** Entity salience: damped PageRank over the distinct directed
    * subj->obj edge set (self-loops dropped), `iters` fixed iterations:
    * the [[rankKernel]] with every edge weighing 1 and every node a seed.
    */
  def pageRank(triples: DataFrame, iters: Int = 10,
               maxLocalEdges: Long = 2000000L): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    rankKernel(triples, weighted = false, None, iters, maxLocalEdges)
  }

  /** Mention-weighted PageRank: rank flows proportionally to the
    * triple-mention count per (src, dst), so an entity pair asserted by 40
    * documents carries 40× the rank flow of a single-mention pair (plain
    * [[pageRank]] treats both as one edge). The [[rankKernel]] with those
    * counts as weights and every node a seed.
    */
  def weightedPageRank(triples: DataFrame, iters: Int = 10,
                       maxLocalEdges: Long = 2000000L): DataFrame = {
    require(iters >= 1, s"weightedPageRank: iters must be >= 1, got $iters")
    rankKernel(triples, weighted = true, None, iters, maxLocalEdges)
  }

  /** Personalized PageRank: teleport mass restarts ONLY at `seeds`
    * (entity-centric relevance — "salience as seen from these PER
    * entities"). The [[rankKernel]] with every edge weighing 1.
    */
  def personalizedPageRank(triples: DataFrame, seeds: DataFrame,
                           iters: Int = 10,
                           maxLocalEdges: Long = 2000000L): DataFrame = {
    require(iters >= 1, s"personalizedPageRank: iters must be >= 1, got $iters")
    rankKernel(triples, weighted = false, Some(seeds), iters, maxLocalEdges)
  }

  /** The fixed-point PageRank of [[pageRank]], [[weightedPageRank]] and
    * [[personalizedPageRank]]. Exact integer contract (what the oracle
    * reproduces):
    *   w(u,v) = 1 on each [[edgeSet]] edge or, `weighted`, the number of
    *            triples u→v (parallel predicates and repeat docs each
    *            count; self-loops dropped); W(u) = Σ_v w(u,v);
    *   t(v)   = 1 if v is a seed, else 0 (no `seeds`: every node is one);
    *   rank_0(v) = 10^6 · t(v)   (micro-units);
    *   contrib(u→v) = (rank(u) · w(u,v)) div W(u)   [integer floor];
    *   rank_{i+1}(v) = 150000 · t(v) + (850 · Σ contribs into v) div 1000.
    * With w = 1, contrib = rank(u) div out_degree(u). Dangling mass is not
    * redistributed (documented simplification — the standard contraction
    * still holds, ranks just sum below N). Overflow bound: rank ≤ 10^6·N
    * and rank·w must fit a Long — fine through w·N ≤ ~9·10^12; beyond
    * that pre-scale the weights (documented trade).
    *
    * Exactly two implementations, picked by [[loadEdges]]: an edge set of
    * at most `maxLocalEdges` iterates on the driver, where distributed
    * supersteps would be pure job-scheduling overhead; a bigger one runs
    * one shuffle-hash join ranks><edges on src plus one hash aggregate on
    * dst per iteration, with W pre-joined once and the ranks checkpointed
    * every iteration, so the plan stays O(1) deep. Both return the same
    * rows with the same schema (spec-asserted).
    */
  private def rankKernel(triples: DataFrame, weighted: Boolean, seeds: Option[DataFrame],
                         iters: Int, maxLocalEdges: Long): DataFrame = {
    val edges =
      if (weighted) edgeSet(triples, weighted = true) else edgeSet(triples).withColumn("w", lit(1L))
    val seedSet = seeds.map(_.select(col("entity_id")).distinct())
    def withW(e: DataFrame) = e.join(e.groupBy("src").agg(sum("w").as("wsum")), "src")
    // the nodes with their teleport factor t
    def teleport(e: DataFrame) = {
      val ids = nodesOf(e)
      seedSet.fold(ids.withColumn("t", lit(1L)))(sd =>
        ids.join(sd.withColumn("t", lit(1L)), Seq("entity_id"), "left").na.fill(0L, Seq("t")))
    }
    def start(nodes: DataFrame) =
      nodes.select(col("entity_id"), (col("t") * 1000000L).as("rank"))
    def step(withW: DataFrame, nodes: DataFrame, ranks: DataFrame) = {
      val contribs = withW
        .join(ranks.withColumnRenamed("entity_id", "src"), "src")
        .select(col("dst").as("entity_id"), expr("(rank * w) div wsum").as("contrib"))
        .groupBy("entity_id").agg(sum(col("contrib")).as("c"))
      nodes.join(contribs, Seq("entity_id"), "left")
        .select(col("entity_id"),
          expr("t * 150000L + (850L * coalesce(c, 0L)) div 1000L").as("rank"))
    }
    loadEdges(edges, maxLocalEdges) match {
      case Left(rows) =>
        val g = new LocalGraph(rows)
        val w = rows.map(_.getLong(2))
        val wsum = new Array[Long](g.ids.length)
        for (e <- rows.indices) wsum(g.src(e)) += w(e)
        val sd = seedSet.map(_.collect().map(_.getString(0)).toSet)
        val t = g.ids.map(n => if (sd.forall(_(n))) 1L else 0L)
        var rank = t.map(_ * 1000000L)
        for (_ <- 1 to iters) {
          val c = new Array[Long](g.ids.length)
          for (e <- rows.indices) c(g.dst(e)) += rank(g.src(e)) * w(e) / wsum(g.src(e))
          rank = Array.tabulate(g.ids.length)(v => 150000L * t(v) + 850L * c(v) / 1000L)
        }
        val nodes = teleport(edges)
        localFrame(triples, step(withW(edges), nodes, start(nodes)).schema,
          g.ids.indices.map(v => Row(g.ids(v), rank(v))))
      case Right(cached) =>
        // both persisted: every superstep probes them, and without the
        // cache each of the `iters` jobs would rebuild the W join / node set
        val ww = withW(cached).persist(StorageLevel.MEMORY_AND_DISK)
        val nodes = teleport(cached).persist(StorageLevel.MEMORY_AND_DISK)
        var ranks = start(nodes)
        for (_ <- 1 to iters) ranks = step(ww, nodes, ranks).localCheckpoint()
        Seq(cached, ww, nodes).foreach(_.unpersist(blocking = false))
        ranks
    }
  }

  /** The distinct `subj_id -> obj_id` pairs of `triples` as (src, dst),
    * self-loops and null endpoints dropped; `undirected` adds each pair's
    * reverse first. `weighted` adds w = the number of triples of each pair.
    * Lazy: each caller persists or checkpoints it as its loop needs.
    */
  private def edgeSet(triples: DataFrame, undirected: Boolean = false,
                      weighted: Boolean = false): DataFrame = {
    val e = (if (undirected) triples.select(explode(array(
        struct(col("subj_id").as("src"), col("obj_id").as("dst")),
        struct(col("obj_id").as("src"), col("subj_id").as("dst")))).as("m"))
      .select(col("m.src"), col("m.dst"))
    else triples.select(col("subj_id").as("src"), col("obj_id").as("dst")))
      .where(col("src") =!= col("dst"))
    if (weighted) e.groupBy("src", "dst").agg(count(lit(1)).as("w"))
    else e.distinct()
  }

  /** The distinct endpoints of a (src, dst) edge set, as column `name`. */
  private def nodesOf(edges: DataFrame, name: String = "entity_id"): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as(name)).distinct()

  /** Picks the side of a size-adaptive graph loop from ONE evaluation of
    * `edges`: it is persisted and at most `maxLocalEdges + 1` rows are
    * collected. Left(the rows) when that is all of them (the cache is
    * dropped), else Right(the persisted frame) for the distributed loop,
    * which unpersists it when done.
    */
  private def loadEdges(edges: DataFrame, maxLocalEdges: Long): Either[Array[Row], DataFrame] = {
    val cached = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val limit = math.min(maxLocalEdges, Int.MaxValue - 8L).toInt + 1
    val rows = cached.limit(limit).collect()
    if (rows.length >= limit) Right(cached)
    else { cached.unpersist(blocking = false); Left(rows) }
  }

  /** The driver side's view of collected (src, dst, ...) edge rows: the
    * distinct node ids, and each edge's endpoints as indices into them. */
  private final class LocalGraph(rows: Array[Row]) {
    val ids: Array[String] =
      (rows.iterator.map(_.getString(0)) ++ rows.iterator.map(_.getString(1))).distinct.toArray
    private val index = ids.iterator.zipWithIndex.toMap
    val src: Array[Int] = rows.map(r => index(r.getString(0)))
    val dst: Array[Int] = rows.map(r => index(r.getString(1)))
  }

  /** A driver-side result as a local relation with `schema` — the schema
    * of the distributed plan, taken by analysis alone. */
  private def localFrame(like: DataFrame, schema: StructType, rows: Seq[Row]): DataFrame =
    like.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Spark's string order: UTF-8 bytes, i.e. code points. Java's
    * `String.compareTo` compares UTF-16 units and puts a supplementary
    * character (a surrogate pair) below U+E000..U+FFFF. Every driver-side
    * twin orders ids by this one, so that it agrees with Spark's `min`,
    * `<` and sort on the distributed side.
    */
  private[kg] val sparkOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }

  /** Co-mention mining: entity pairs appearing in the SAME document (on
    * either side of any triple), with the number of distinct supporting
    * documents. The per-doc distinct mention set is built first (hash
    * aggregate), so the pairs fan out only over each doc's small entity
    * list — never over the raw triple multiplicity. Pairs are the
    * [[blockedPairs]] of (doc, entity), uncapped: on the driver when
    * Σ_doc C(entities, 2) <= `maxLocalPairs`, else a distributed self-join.
    */
  def coMentions(triples: DataFrame, minDocs: Long = 1,
                 maxLocalPairs: Long = 2000000L): DataFrame = {
    val mentions = keyed(triples.select(col("docId").as("key"),
      explode(array(col("subj_id"), col("obj_id"))).as("item")))
    blockedPairs(mentions, Long.MaxValue, maxLocalPairs).fold(_.pairs(minDocs), pairsOf)
      .where(col("n") >= minDocs)
      .select(col("a").as("e1"), col("b").as("e2"), col("n").as("n_docs"))
  }

  /** The distinct (key, item) rows of `rows`, shuffled by the key only, so
    * all rows of a key share one partition. Checkpointed lazily: the first
    * job over the result (the bound in [[blockedPairs]]) also stores it.
    */
  private def keyed(rows: DataFrame): DataFrame =
    rows.repartition(col("key")).distinct().localCheckpoint(eager = false)

  /** The blocked item pairs of a [[keyed]] (key, item) table — the
    * self-join shared by [[coMentions]], [[neighborJaccard]] and
    * [[storyClusters]]. Keys with more than `hubCap` items are dropped
    * (`Long.MaxValue`: no cap), then every item pair a < b in Spark's
    * string order (UTF-8 bytes) gets n = the number of kept keys the two
    * share.
    *
    * Exactly two implementations, picked before any pair exists by one
    * narrow job over the table: it counts the rows and the exact pair
    * count Σ_key C(size, 2) over the kept keys, counting the key sizes
    * within each partition (a key's rows share one). When both are <=
    * `maxLocalPairs`, the rows are collected and the pairs are counted on
    * the driver (Left). The driver then holds the collected rows, a count
    * map with one entry per distinct pair, and a local relation with one
    * row per distinct pair over the caller's threshold: up to
    * `maxLocalPairs` of each. Otherwise nothing is collected and the
    * (key, item) rows of the kept keys come back (Right) for [[pairsOf]]
    * and [[sizesOf]]. Both sides give the same rows with the same schema.
    */
  private def blockedPairs(rows: DataFrame, hubCap: Long,
                           maxLocalPairs: Long): Either[DriverPairs, DataFrame] = {
    val (nRows, bound) = rows.select("key").queryExecution.toRdd.mapPartitions { it =>
      val size = new java.util.HashMap[UTF8String, Integer]()
      var n = 0L
      it.foreach { r =>
        n += 1
        if (!r.isNullAt(0)) size.merge(r.getUTF8String(0).clone(), 1, (a, b) => a + b)
      }
      var pairs = 0L
      size.values.forEach(k => if (k <= hubCap) pairs += k.toLong * (k - 1) / 2)
      Iterator((n, pairs))
    }.fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
    if (nRows <= maxLocalPairs && bound <= maxLocalPairs)
      Left(DriverPairs.count(rows, hubCap))
    else if (hubCap == Long.MaxValue) Right(rows)
    else Right(rows.join(rows.groupBy("key").agg(count(lit(1)).as("size"))
        .where(col("size") <= hubCap).select("key"), "key")
      .select("key", "item"))
  }

  /** (a, b, n): the self-join on the key of the kept rows. */
  private def pairsOf(kept: DataFrame): DataFrame = kept.as("x")
    .join(kept.as("y"),
      col("x.key") === col("y.key") && col("x.item") < col("y.item"))
    .groupBy(col("x.item").as("a"), col("y.item").as("b"))
    .agg(count(lit(1)).as("n"))

  /** (item, size): the number of kept keys of each item. */
  private def sizesOf(kept: DataFrame): DataFrame =
    kept.groupBy("item").agg(count(lit(1)).as("size"))

  /** The driver side of [[blockedPairs]]. `items` are the distinct non-null
    * items of every row (hub keys included) in Spark's string order;
    * `shared` maps each item pair a < b, packed by rank as
    * `a * items.length + b`, to its n; `itemSize(r)` is the size of item r,
    * with the null item in the last slot.
    */
  private final class DriverPairs(rows: DataFrame, val items: Array[String],
      val shared: scala.collection.mutable.LongMap[Int], itemSize: Array[Int]) {
    def pairOf(k: Long): (String, String) =
      (items((k / items.length).toInt), items((k % items.length).toInt))
    /** The pairs with n >= `minN`: only those become rows. Both frames take
      * the schemas of the distributed plans: analysis only, nothing runs. */
    def pairs(minN: Long): DataFrame = localFrame(rows, pairsOf(rows).schema,
      shared.iterator.collect { case (k, n) if n >= minN =>
        val (a, b) = pairOf(k); Row(a, b, n.toLong) }.toSeq)
    lazy val sizes: DataFrame = localFrame(rows, sizesOf(rows).schema,
      itemSize.indices.filter(itemSize(_) > 0)
        .map(r => Row(if (r < items.length) items(r) else null, itemSize(r).toLong)))
  }

  private object DriverPairs {
    /** Collects `rows` and counts the pairs of its kept keys. A null key is
      * never kept (an equi-join drops it); a null item counts toward its
      * key's size, as in the size aggregate, but never pairs. */
    def count(rows: DataFrame, hubCap: Long): DriverPairs = {
      val got = rows.select("key", "item").collect()
      val items = got.iterator.map(_.getString(1)).filter(_ != null)
        .distinct.toArray.sorted(sparkOrder)
      val nullRank = items.length
      val rank = items.iterator.zipWithIndex.toMap
      val shared = new scala.collection.mutable.LongMap[Int]()
      val itemSize = new Array[Int](nullRank + 1)
      // item ranks per kept key, ascending; the null item ranks last
      for (g <- got.filter(_.getString(0) != null)
             .groupMap(_.getString(0))(r => Option(r.getString(1)).fold(nullRank)(rank))
             .valuesIterator if g.length <= hubCap) {
        val s = g.sorted
        for (x <- s.indices) {
          itemSize(s(x)) += 1
          for (y <- x + 1 until s.length if s(y) < nullRank) {
            val k = s(x).toLong * nullRank + s(y)
            shared(k) = shared.getOrElse(k, 0) + 1
          }
        }
      }
      new DriverPairs(rows, items, shared, itemSize)
    }
  }

  /** Two-hop reachability with path counts: (a)-[p1]->(x)-[p2]->(c),
    * a != c, over the distinct edge multigraph (predicate kept, so
    * parallel predicates count as distinct paths). The skew-prone KG op:
    * a hot intermediate entity (x) multiplies both sides — the equi-join
    * on x is exactly the AQE skew-join-split shape, and the downstream
    * aggregate is two-phase.
    */
  def twoHopPaths(triples: DataFrame, undirected: Boolean = false): DataFrame = {
    // symmetrize with a row-local explode (one source scan), distinct,
    // then persist so the hop self-join reads the cache, not the pipeline
    val e = (if (undirected)
      triples.select(explode(array(
        struct(col("subj_id"), col("pred"), col("obj_id")),
        struct(col("obj_id").as("subj_id"), col("pred"),
          col("subj_id").as("obj_id")))).as("m"))
        .select(col("m.subj_id"), col("m.pred"), col("m.obj_id"))
    else triples.select(col("subj_id"), col("pred"), col("obj_id")))
      .distinct()
      .localCheckpoint()
    e.as("x")
      .join(e.as("y"), col("x.obj_id") === col("y.subj_id"))
      .where(col("x.subj_id") =!= col("y.obj_id"))
      .groupBy(col("x.subj_id").as("src"), col("y.obj_id").as("dst"))
      .agg(count(lit(1)).as("n_paths"))
  }

  /** Per-predicate profile: triple count, distinct subject/object
    * entities, and distinct supporting documents — the relation-level
    * quality table reviewers read first after a build.
    */
  def predicateStats(triples: DataFrame): DataFrame =
    triples.groupBy(col("pred"))
      .agg(count(lit(1)).as("n_triples"),
        countDistinct(col("subj_id")).as("n_subjects"),
        countDistinct(col("obj_id")).as("n_objects"),
        countDistinct(col("docId")).as("n_docs"))

  /** Community detection by synchronous label propagation over the
    * symmetrized distinct entity graph, `iters` fixed rounds.
    *
    * Deterministic contract (what the oracle reproduces): every node
    * starts labeled with its own id; each round every node adopts the
    * most frequent label among its NEIGHBORS, ties broken by smallest
    * label in Spark's string order. Synchronous updates + total tie order
    * make the result a pure function of the edge set — no randomized
    * visit order, so two engines (or two cluster sizes) agree bit-for-bit. Fixed `iters`
    * rather than convergence detection: sync LPA can 2-cycle on
    * bipartite-ish regions, so a fixpoint test may never fire.
    *
    * Physical shape per round: one equi-join labels><edges + two hash
    * aggregates (vote count, then arg-max with min-label tie-break) —
    * all AQE-splittable on hot entities. An edge set within
    * `maxLocalEdges` iterates on the driver instead ([[loadEdges]]); both
    * sides return the same rows and schema (spec-asserted).
    */
  def labelProp(triples: DataFrame, iters: Int = 5,
                maxLocalEdges: Long = 2000000L): DataFrame = {
    require(iters >= 1, s"labelProp: iters must be >= 1, got $iters")
    val edges = edgeSet(triples, undirected = true)
    def start(e: DataFrame) =
      e.select(col("src").as("entity_id")).distinct().withColumn("label", col("entity_id"))
    def round(e: DataFrame, labels: DataFrame) = {
      val votes = e
        .join(labels.withColumnRenamed("entity_id", "src"), "src")
        .groupBy(col("dst").as("entity_id"), col("label"))
        .agg(count(lit(1)).as("c"))
      val mx = votes.groupBy("entity_id").agg(max(col("c")).as("mx"))
      votes.join(mx, "entity_id")
        .where(col("c") === col("mx"))
        .groupBy("entity_id").agg(min(col("label")).as("label"))
    }
    def output(labels: DataFrame) = labels.select(col("entity_id"), col("label").as("community"))
    loadEdges(edges, maxLocalEdges) match {
      case Left(rows) =>
        // symmetric edges: every node is a src and receives votes
        val g = new LocalGraph(rows)
        val in = rows.indices.groupBy(g.dst(_))
        var label = g.ids
        for (_ <- 1 to iters) {
          label = Array.tabulate(g.ids.length) { v =>
            val votes = in(v).groupMapReduce(e => label(g.src(e)))(_ => 1)(_ + _)
            val mx = votes.values.max
            votes.collect { case (l, c) if c == mx => l }.min(sparkOrder)
          }
        }
        localFrame(triples, output(round(edges, start(edges))).schema,
          g.ids.indices.map(v => Row(g.ids(v), label(v))))
      case Right(cached) =>
        var labels = start(cached)
        for (_ <- 1 to iters)
          labels = round(cached, labels).localCheckpoint() // superstep: O(1)-deep plan
        cached.unpersist(blocking = false)
        output(labels)
    }
  }

  /** Per-entity triangle counts over an undirected pair table
    * (e1 < e2, distinct) — e.g. the co-mention graph. Classic
    * degree-ordered orientation: every edge points from its
    * lower-(degree, id) endpoint to the higher one, wedges are built
    * only at the lowest vertex of each triangle, and the closing edge is
    * probed with an equi-join. Orientation bounds wedge fan-out by
    * O(arboricity) instead of O(max-degree) — the hot-entity star that
    * would explode a naive wedge join generates NO wedges at its center
    * because all its edges point outward. Output is orientation-free
    * (the triangle set), so an id-ordered oracle reproduces it exactly.
    */
  def triangles(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("e1").as("u"), col("e2").as("v"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient by (deg, id); carry the head's degree for the wedge order
    val o = e
      .join(deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("id", "v").withColumnRenamed("deg", "dv"), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b"),
        // the head is by construction the greater endpoint in (deg, id)
        // order, so its degree is simply the max of the two
        greatest(col("du"), col("dv")).as("db"))
      .localCheckpoint() // three consumers below; cut the lineage once
    val tri = o.as("x")
      .join(o.as("y"), col("x.a") === col("y.a") &&
        (col("x.db") < col("y.db") ||
          (col("x.db") === col("y.db") && col("x.b") < col("y.b"))))
      .join(o.as("z"),
        col("z.a") === col("x.b") && col("z.b") === col("y.b"))
      .select(col("x.a").as("p"), col("x.b").as("q"), col("y.b").as("r"))
    tri.select(explode(array(col("p"), col("q"), col("r"))).as("entity_id"))
      .groupBy("entity_id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS: shortest hop distance from any seed entity, up to
    * `maxHops`. Entities unreachable within the horizon are absent from
    * the output (a bounded-frontier contract — at 10^10 edges an
    * "unreachable = NULL for every node" output would materialize the
    * full vertex set for no analytical value).
    *
    * Physical shape per hop: ONE equi-join frontier><edges on src + one
    * min-aggregate — the Pregel superstep. Only the entities settled in
    * the PREVIOUS hop are expanded (a node first reached at hop i can
    * never improve a neighbor below i+1), so per-hop work is proportional
    * to the frontier, not the visited set. Lineage is truncated every
    * hop (eager localCheckpoint) so the plan stays O(1) deep; the edge
    * set is persisted once and reused by every hop.
    *
    * The superstep is [[shortestPathForest]]'s, with its parent column
    * dropped: the forest's min(struct(dist, parent)) keeps the same
    * minimum dist per entity.
    *
    * No driver-local fast path here (unlike pageRank/labelProp): with
    * maxHops small the distributed loop is a handful of narrow jobs and
    * the local twin would add a second code path for no measured win.
    */
  def bfsDistances(triples: DataFrame, seeds: DataFrame, maxHops: Int,
                   undirected: Boolean = false): DataFrame = {
    require(maxHops >= 1, s"bfsDistances: maxHops must be >= 1, got $maxHops")
    shortestPathForest(triples, seeds, maxHops, undirected).select("entity_id", "dist")
  }

  /** Entity similarity by shared neighborhood: Jaccard over undirected
    * neighbor sets — the KG entity-resolution signal ("two entities that
    * connect to the same things are candidates for the same thing").
    *
    * Shape: neighbor pairs -> wedge self-join on the shared neighbor ->
    * two-phase count per (e1,e2) -> set sizes joined back. The wedge join
    * is the skew-prone step (a neighbor shared by k entities emits
    * k(k-1)/2 pairs): `hubCap` drops neighbors above the cap BEFORE the
    * join — a hub like a country entity connects half the graph and its
    * wedges carry no discriminative signal anyway (mirrored exactly by
    * the oracle; both sizes and common counts use the capped sets, so
    * jaccard stays internally consistent). Orientation e1 < e2 halves
    * the output; AQE splits what skew remains below the cap. The common
    * counts and capped sizes are the [[blockedPairs]] of (neighbor,
    * entity): on the driver when they fit `maxLocalPairs`.
    */
  def neighborJaccard(triples: DataFrame, minCommon: Long = 1,
                      hubCap: Long = 10000,
                      maxLocalPairs: Long = 2000000L): DataFrame = {
    val ment = keyed(triples.select(explode(array(
        struct(col("obj_id").as("key"), col("subj_id").as("item")),
        struct(col("subj_id").as("key"), col("obj_id").as("item")))).as("m"))
      .select(col("m.key"), col("m.item"))
      .where(col("key") =!= col("item")))
    val (pairs, sizes) = blockedPairs(ment, hubCap, maxLocalPairs)
      .fold(d => (d.pairs(minCommon), d.sizes), kept => (pairsOf(kept), sizesOf(kept)))
    pairs
      .where(col("n") >= minCommon)
      .select(col("a").as("e1"), col("b").as("e2"), col("n").as("common"))
      .join(sizes.select(col("item").as("e1"), col("size").as("sz1")), "e1")
      .join(sizes.select(col("item").as("e2"), col("size").as("sz2")), "e2")
      .select(col("e1"), col("e2"), col("common"), col("sz1"), col("sz2"),
        (col("common").cast("double") /
          (col("sz1") + col("sz2") - col("common"))).as("jaccard"))
  }

  /** Deterministic "random" walks over the distinct directed edge set —
    * the node2vec/DeepWalk corpus generator, made reproducible: step
    * choice is poly_hash(seed:cur:step:walk_no) mod out-degree over the
    * SORTED neighbor list, so the same graph yields bit-identical walks
    * on any partitioning, any retry, and in the independent oracle
    * engine (pmod semantics on the signed 64-bit hash match Spark's
    * `pmod` and the oracle's ((h % d) + d) % d).
    *
    * Output is long format: (start, walk_no, step, entity_id), one row
    * per visited position; walks stop early at sink nodes (no out-edges).
    *
    * Physical shape per step: hash computed row-locally (codegen
    * PolyHash), then ONE composite equi-join (cur, pick) = (src, idx)
    * against the indexed neighbor table — no range join, no explosion;
    * the neighbor table carries the destination's out-degree so the next
    * step needs no extra join. Neighbor indexing pays one window sort
    * per src partition, once, reused by all steps and walks.
    */
  def randomWalks(triples: DataFrame, walksPerStart: Int = 2,
                  walkLen: Int = 3, seed: Long = 42L): DataFrame = {
    require(walksPerStart >= 1 && walkLen >= 1,
      s"randomWalks: walksPerStart/walkLen must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val withIdx = edgeSet(triples)
      .withColumn("idx",
        (row_number().over(Window.partitionBy("src").orderBy("dst")) - 1)
          .cast("long"))
      .withColumn("odeg",
        count(lit(1)).over(Window.partitionBy("src")).cast("long"))
    val odeg = withIdx.select(col("src"), col("odeg")).distinct()
    val nbrs = withIdx
      .join(odeg.select(col("src").as("dst"), col("odeg").as("dst_odeg")),
        Seq("dst"), "left")
      .na.fill(0L, Seq("dst_odeg"))
      .select(col("src"), col("idx"), col("dst"), col("odeg"), col("dst_odeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var cur = odeg
      .select(col("src").as("start"),
        explode(sequence(lit(0), lit(walksPerStart - 1))).as("walk_no"),
        col("src").as("cur"), col("odeg").as("cur_odeg"))
      .localCheckpoint()
    var out = cur.select(col("start"), col("walk_no"),
      lit(0).as("step"), col("cur").as("entity_id"))
    for (i <- 1 to walkLen) {
      val h = graft.functions.F.poly_hash(concat_ws(":",
        lit(seed.toString), col("cur"), lit(i.toString),
        col("walk_no").cast("string")))
      val stepped = cur.where(col("cur_odeg") > 0)
        .withColumn("pick", pmod(h, col("cur_odeg")))
        .join(nbrs, col("cur") === nbrs("src") && col("pick") === nbrs("idx"))
        .select(col("start"), col("walk_no"),
          nbrs("dst").as("cur"), nbrs("dst_odeg").as("cur_odeg"))
        .localCheckpoint()
      out = out.unionByName(stepped.select(col("start"), col("walk_no"),
        lit(i).as("step"), col("cur").as("entity_id")))
      cur = stepped
    }
    nbrs.unpersist()
    out
  }

  /** HITS hubs & authorities over the directed canonical graph — the
    * complementary salience signal to PageRank (an entity can be a weak
    * authority but a strong hub: a survey-like document entity that
    * points at many authorities).
    *
    * FIXED-POINT integer arithmetic, same rationale as [[rankKernel]]:
    * scores live in micro-units; each half-step sums the opposite score
    * over edges and max-normalizes with floor division
    * (`raw * 10^6 div max(raw)`), so the argmax node sits at exactly
    * 10^6 every iteration and results are bit-reproducible across
    * partitionings and engines. Overflow bound: `raw <= 10^6 * degree`
    * and the scale step multiplies by 10^6, so degrees up to ~9*10^6
    * fit in a Long — beyond that, pre-divide the norm instead (documented
    * trade: quantization). The norm rides a broadcast single-row cross
    * join (not a driver collect), so each superstep stays one job.
    *
    * Size-adaptive through [[loadEdges]]: small edge sets iterate on the
    * driver, big ones take the superstep loop — the same rows and schema
    * (asserted in KgAnalyticsSpec).
    */
  def hits(triples: DataFrame, iters: Int = 5,
           maxLocalEdges: Long = 2000000L): DataFrame = {
    require(iters >= 1, s"hits: iters must be >= 1, got $iters")
    val edges = edgeSet(triples)
    // one half-step: sum `score` over edges in direction (from -> to),
    // max-normalize to micro-units; left join keeps sink/source nodes at 0
    def halfStep(e: DataFrame, nodes: DataFrame, score: DataFrame, from: String, to: String) = {
      val raw = e
        .join(score.withColumnRenamed("entity_id", from), from)
        .groupBy(col(to).as("entity_id")).agg(sum("score").as("raw"))
      val mx = raw.agg(greatest(max("raw"), lit(1L)).as("mx"))
      nodes.join(raw, Seq("entity_id"), "left")
        .crossJoin(broadcast(mx))
        .select(col("entity_id"),
          expr("(coalesce(raw, 0L) * 1000000L) div mx").as("score"))
    }
    def output(nodes: DataFrame, hub: DataFrame, auth: DataFrame) = nodes
      .join(hub.withColumnRenamed("score", "hub"), "entity_id")
      .join(auth.withColumnRenamed("score", "auth"), "entity_id")
    loadEdges(edges, maxLocalEdges) match {
      case Left(rows) =>
        val g = new LocalGraph(rows)
        def half(score: Array[Long], from: Array[Int], to: Array[Int]) = {
          val raw = new Array[Long](g.ids.length)
          for (e <- rows.indices) raw(to(e)) += score(from(e))
          val mx = raw.foldLeft(1L)(math.max)
          raw.map(_ * 1000000L / mx)
        }
        var hub = Array.fill(g.ids.length)(1000000L)
        var auth = hub
        for (_ <- 1 to iters) {
          auth = half(hub, g.src, g.dst)
          hub = half(auth, g.dst, g.src)
        }
        val nodes = nodesOf(edges)
        val a = halfStep(edges, nodes, nodes.withColumn("score", lit(1000000L)), "src", "dst")
        localFrame(triples, output(nodes, halfStep(edges, nodes, a, "dst", "src"), a).schema,
          g.ids.indices.map(v => Row(g.ids(v), hub(v), auth(v))))
      case Right(cached) =>
        val nodes = nodesOf(cached).persist(StorageLevel.MEMORY_AND_DISK)
        def step(score: DataFrame, from: String, to: String) =
          halfStep(cached, nodes, score, from, to).localCheckpoint() // superstep: O(1)-deep plan
        var hub = nodes.withColumn("score", lit(1000000L))
        var auth = hub
        for (_ <- 1 to iters) {
          auth = step(hub, "src", "dst")
          hub = step(auth, "dst", "src")
        }
        cached.unpersist(blocking = false)
        nodes.unpersist(blocking = false)
        output(nodes, hub, auth)
    }
  }

  /** Bounded k-core peeling over the undirected canonical graph: `rounds`
    * rounds of "drop every node with degree < k, then recount". The
    * k-core (maximal subgraph where every node has degree >= k) is this
    * loop's fixpoint; a FIXED round count keeps the operator a pure,
    * engine-independent function of the input (a data-dependent stopping
    * rule would make the oracle unmirrorable), and extra rounds past the
    * fixpoint are no-ops — KgAnalyticsSpec asserts rounds/rounds+1
    * invariance at test scale. Output: surviving entities with their
    * final in-core degree.
    *
    * Shape per round: one two-phase degree aggregate + two semi-joins
    * (src kept, dst kept) — all equi-joins on entity id; AQE splits
    * hot-entity skew; localCheckpoint keeps the iterated plan O(1)-deep.
    */
  def kCore(triples: DataFrame, k: Int = 2, rounds: Int = 4): DataFrame = {
    require(k >= 1 && rounds >= 1, s"kCore: k/rounds must be >= 1")
    var edges = edgeSet(triples, undirected = true).localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select(col("src").as("kept"))
      edges = edges
        .join(keep.withColumnRenamed("kept", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("kept", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint()
    }
    edges.groupBy(col("src").as("entity_id"))
      .agg(count(lit(1)).as("degree"))
  }

  /** Adjacency-list export — the GNN / embedding-trainer consumption
    * shape: per entity, the TRUE distinct out-degree plus the sorted
    * distinct out-neighbor ARRAY, capped at `maxDegree` entries
    * (`truncated` flags capped rows). Hub rows are unbounded in a
    * 10^12-doc corpus (a celebrity entity can reach 10^8 distinct
    * neighbors — one row must not hold gigabytes), so the cap is part of
    * the export contract, not an optimization; consumers route
    * `truncated` hubs to a dedicated neighbor sampler.
    *
    * Determinism: the kept slice is the lexicographically FIRST
    * `maxDegree` neighbors (rank over the sorted distinct edge list), so
    * output is reproducible across partitionings.
    *
    * Shape: one distinct on (entity, neighbor), then ONE entity-keyed
    * window pass assigns rank + full degree — the cap filter runs BEFORE
    * collect_list, so no agg buffer ever materializes an uncapped hub
    * list (the difference between this and `sort_array(collect_set(...))
    * [1:maxDegree]`, which builds the 10^8-element set first). Both
    * window functions share the entity_id partitioning: one shuffle, one
    * sort.
    */
  def adjacency(triples: DataFrame, maxDegree: Int = 10000): DataFrame = {
    require(maxDegree >= 1, s"adjacency: maxDegree must be >= 1, got $maxDegree")
    import org.apache.spark.sql.expressions.Window
    val de = edgeSet(triples).select(col("src").as("entity_id"), col("dst").as("obj_id"))
    val byEntity = Window.partitionBy("entity_id")
    de.select(col("entity_id"), col("obj_id"),
        row_number().over(byEntity.orderBy("obj_id")).as("rn"),
        count(lit(1)).over(byEntity).as("deg"))
      .where(col("rn") <= maxDegree)
      .groupBy("entity_id")
      .agg(first("deg").as("out_degree"),
        sort_array(collect_list("obj_id")).as("neighbors"))
      .withColumn("truncated", col("out_degree") > lit(maxDegree.toLong))
  }

  /** KG-embedding training pairs, TransE-style (Bordes et al. 2013): for
    * every distinct (subj, pred, obj) emit `negatives` corrupted copies —
    * even draws corrupt the tail, odd the head (the standard alternating
    * scheme) — with the replacement entity drawn DETERMINISTICALLY from
    * the entity vocabulary, so the sample is reproducible across retries,
    * partitionings, and engines (the [[randomWalks]] hash-pick rule).
    *
    * Draw contract: entities get dense ids by (pmod(poly_hash(e), 64), e)
    * order; draw i for triple t picks id pmod(poly_hash(
    * 'transe'␁subj␁pred␁obj␁i), n); a draw that hits the very entity it
    * would replace moves to (id+1) mod n (needs n >= 2 — a 1-entity graph
    * has no negatives). Collisions with the OTHER side are kept: TransE
    * filtering ("filtered setting") removes corruptions that form REAL
    * triples, a variant left to the caller via anti-join against the base
    * table.
    *
    * Physical shape (10^10 triples, 10^8 entities): dense ids are
    * assigned two-level — per-bucket row_number windows (64 parallel
    * partitions) plus broadcast cumulative bucket offsets — NOT one
    * global-sort window; the corpus then pays one eid-keyed shuffle join
    * of probes against the vocab (vocab not assumed broadcastable; AQE
    * downgrades when it is). The collision re-pick joins only the
    * colliding rows (expected n_triples·negatives/n — vanishing).
    */
  def transeSamples(triples: DataFrame, negatives: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(negatives >= 1, s"transeSamples: negatives must be >= 1")
    val B = 64L
    // ONE scan exploding both triple sides (the old two-branch union
    // doubled the scan partition count and the task launches); the
    // window/offset construction is unchanged, so ids are identical
    val ents = triples
      .select(explode(array(col("subj_id"), col("obj_id"))).as("e")).distinct()
      .withColumn("b", pmod(graft.functions.F.poly_hash(col("e")), lit(B)))
    val inB = ents.withColumn("rn",
      row_number().over(Window.partitionBy("b").orderBy("e")).cast("long"))
    val offs = ents.groupBy("b").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum("c").over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("b", "off") // B rows — the tiny frame the global window runs on
    // checkpointed: ids feeds THREE consumers (the n-row count, the probe
    // join, and the collision re-pick join) and each re-evaluated the
    // whole distinct + 64-bucket-window vocab DAG from scratch —
    // measured ~3 duplicate evaluations per run at sf0.1 (guide §2.4)
    val ids = inB.join(broadcast(offs), "b")
      .select(col("e"), (col("off") + col("rn") - 1).as("eid"))
      .localCheckpoint()
    val nRow = ids.agg(count(lit(1)).as("n")) // 1 row -> broadcast cross
    val probes = triples.select("subj_id", "pred", "obj_id").distinct()
      .crossJoin(broadcast(nRow))
      .select(col("subj_id"), col("pred"), col("obj_id"), col("n"),
        explode(sequence(lit(0), lit(negatives - 1))).as("neg_no"))
      .withColumn("corrupt",
        when(col("neg_no") % 2 === 0, lit("obj")).otherwise(lit("subj")))
      .withColumn("idx", pmod(graft.functions.F.poly_hash(
        concat_ws("\u0001", lit("transe"), col("subj_id"), col("pred"),
          col("obj_id"), col("neg_no").cast("string"))), col("n")))
    val trueEnt =
      when(col("corrupt") === "obj", col("obj_id")).otherwise(col("subj_id"))
    // checkpointed: j1 feeds BOTH union branches below — without it the
    // whole probe DAG (triples distinct + explode + poly_hash + vocab
    // join) evaluates twice (measured 8.9 s at sf0.1 x 32; ~2x waste)
    val j1 = probes
      .join(ids.select(col("eid").as("idx"), col("e").as("neg0")), "idx")
      .localCheckpoint()
    val out = Seq(col("subj_id"), col("pred"), col("obj_id"),
      col("neg_no").cast("long").as("neg_no"), col("corrupt"))
    j1.where(col("neg0") =!= trueEnt)
      .select(out :+ col("neg0").as("neg_id"): _*)
      .unionByName(j1.where(col("neg0") === trueEnt)
        .withColumn("idx2", pmod(col("idx") + 1, col("n")))
        .join(ids.select(col("eid").as("idx2"), col("e").as("neg1")), "idx2")
        .select(out :+ col("neg1").as("neg_id"): _*))
  }

  /** GraphSAGE-style multi-hop neighbor fan-out sampling (Hamilton et
    * al. 2017): for every entity as a seed, sample up to `fanouts(h-1)`
    * out-neighbors at hop h and emit the sampled computation-graph edges
    * `(seed, hop, parent, child)` — the minibatch expansion a GNN
    * trainer consumes (per-parent multiplicity kept: the same child
    * under two hop-2 parents is two aggregation edges).
    *
    * Sampling is DETERMINISTIC without replacement — the [[randomWalks]]
    * hash-pick rule lifted to top-k: per (hop, src) the out-edges rank by
    * (poly_hash('sample'␁seed␁hop␁src␁dst), dst) and the first k win, so
    * the sample is reproducible across partitionings, retries, and
    * engines, and each hop draws an independent sample (the hash is
    * hop-keyed) exactly as GraphSAGE samples per layer.
    *
    * Physical shape (10^10 triples): the per-hop sampled adjacency is
    * computed ONCE from the edge table — one src-keyed window per hop
    * whose `row_number <= k` filter Spark 4 executes as WindowGroupLimit
    * (per-partition top-k, no full sort of a hub's edge list survives) —
    * giving O(V·k_h) rows per hop; the seed expansion is then pure
    * frontier-keyed equi-joins against those capped tables, so a
    * 10^6-degree hub costs exactly k rows downstream and total output is
    * bounded by V·Πk_h. Frontiers are localCheckpointed per hop like
    * [[randomWalks]] so each level is computed once (it feeds both the
    * output union and the next join).
    */
  def neighborSample(triples: DataFrame, fanouts: Seq[Int] = Seq(3, 2),
                     seed: Long = 42L): DataFrame = {
    require(fanouts.nonEmpty && fanouts.forall(_ >= 1),
      s"neighborSample: fanouts must be non-empty positive, got $fanouts")
    import org.apache.spark.sql.expressions.Window
    val edges = edgeSet(triples).localCheckpoint()
    val sampled = fanouts.zipWithIndex.map { case (k, i) =>
      val h = graft.functions.F.poly_hash(concat_ws("\u0001",
        lit("sample"), lit(seed.toString), lit((i + 1).toString),
        col("src"), col("dst")))
      edges
        .withColumn("rn", row_number().over(
          Window.partitionBy("src").orderBy(h.asc, col("dst").asc)))
        .where(col("rn") <= k)
        .drop("rn")
    }
    var frontier = sampled.head
      .select(col("src").as("seed"), lit(1).as("hop"),
        col("src").as("parent"), col("dst").as("child"))
      .localCheckpoint()
    var out = frontier
    for (i <- 1 until fanouts.length) {
      frontier = frontier.as("f")
        .join(sampled(i).as("s"), col("f.child") === col("s.src"))
        .select(col("f.seed"), lit(i + 1).as("hop"),
          col("f.child").as("parent"), col("s.dst").as("child"))
        .localCheckpoint()
      out = out.unionByName(frontier)
    }
    out
  }

  /** Co-entity story clustering (the news-KG event-detection shape, cf.
    * GDELT/NewsLens): documents sharing >= `minShared` canonical
    * entities are edges, connected components over those edges are
    * stories. Output `(doc_id, story_id, story_size)` with story_id =
    * min doc id in the component — a singleton doc is its own story.
    *
    * This is [[coMentions]] transposed (docs sharing entities instead of
    * entities sharing docs), closed under transitivity by the same
    * large-small-star CC engine that canonicalizes alias edges.
    *
    * Skew: a hub entity appearing in more than `hubCap` docs is excluded
    * from pair generation BEFORE the self-join (the [[neighborJaccard]]
    * cap rationale — a "country"-grade entity in 30% of a 10^12-doc
    * corpus would emit ~10^23 pairs and link everything into one
    * mega-story; capping drops only those wedges, and minShared >= 2
    * already demands a second, rarer shared entity for the edge).
    * Remaining pair volume is Σ_e C(df_e, 2) with df_e <= hubCap, an
    * entity-blocked equi-join AQE can split further.
    *
    * Size-adaptive through [[blockedPairs]] of (entity, doc): when that
    * volume and the mention rows fit `maxLocalPairs`, the pairs are counted
    * and the components closed on the driver from one collect of the
    * mention rows; otherwise the distributed pairs go to
    * `ConnectedComponents.runAdaptive` with the same driver budget.
    */
  def storyClusters(triples: DataFrame, minShared: Long = 2,
                    hubCap: Long = 10000L,
                    maxLocalPairs: Long = 2000000L): DataFrame = {
    require(minShared >= 1, s"storyClusters: minShared must be >= 1")
    require(hubCap >= 1, s"storyClusters: hubCap must be >= 1")
    val mentions = keyed(triples.select(
      explode(array(col("subj_id"), col("obj_id"))).as("key"), col("docId").as("item")))
    blockedPairs(mentions, hubCap, maxLocalPairs) match {
      case Left(d) =>
        val edges = d.shared.iterator.collect { case (k, n) if n >= minShared => d.pairOf(k) }
        val story = ConnectedComponents.onDriver(edges, d.items)
        val size = story.groupBy(identity).view.mapValues(_.length.toLong).toMap
        val nullable = mentions.schema("item").nullable
        localFrame(triples, StructType(Seq(StructField("doc_id", StringType, nullable),
            StructField("story_id", StringType, nullable),
            StructField("story_size", LongType, nullable = false))),
          d.items.indices.map(i => Row(d.items(i), story(i), size(story(i)))))
      case Right(kept) =>
        val pairs = pairsOf(kept).where(col("n") >= minShared)
          .select(col("a").as("src"), col("b").as("dst"))
        val verts = mentions.select(col("item").as("id")).distinct()
        val cc = ConnectedComponents.runAdaptive(pairs, verts, maxLocalPairs)
        cc.join(cc.groupBy("component").agg(count(lit(1)).as("story_size")),
            "component")
          .select(col("id").as("doc_id"), col("component").as("story_id"),
            col("story_size"))
    }
  }

  /** Entity-card export — the per-entity profile a KG serving layer
    * renders (and the first table a reviewer reads after a build):
    * majority type, mention/doc counts, in/out degree, and the top-k
    * predicates on each side as ordered CSV (rank by count desc, then
    * predicate asc — fully deterministic, no float scores).
    *
    * ONE scan of the triple table (each triple explodes to its two
    * sides, checkpointed) feeding four independent aggregates stitched
    * by entity-id equi-joins; the top-k windows run as WindowGroupLimit
    * per (entity, side), so a hub entity's predicate list costs its
    * distinct-predicate count, not its mention count.
    */
  def entityCards(triples: DataFrame, topK: Int = 3): DataFrame = {
    require(topK >= 1, s"entityCards: topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val m = triples.select(explode(array(
        struct(col("subj_id").as("e"), col("subj_type").as("ty"),
          col("docId"), col("pred"), lit(true).as("isout"),
          col("obj_id").as("other")),
        struct(col("obj_id").as("e"), col("obj_type").as("ty"),
          col("docId"), col("pred"), lit(false).as("isout"),
          col("subj_id").as("other")))).as("x"))
      .select("x.*")
      .localCheckpoint()
    val base = m.groupBy("e").agg(
      count(lit(1)).as("n_mentions"),
      countDistinct(col("docId")).as("n_docs"),
      countDistinct(when(col("isout"), col("other"))).as("out_degree"),
      countDistinct(when(!col("isout"), col("other"))).as("in_degree"))
    val ty = m.groupBy("e", "ty").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("e").orderBy(col("c").desc, col("ty").asc)))
      .where(col("rn") === 1)
      .select(col("e"), col("ty").as("entity_type"))
    def topPreds(outSide: Boolean, name: String) = m
      .where(col("isout") === outSide)
      .groupBy("e", "pred").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("e").orderBy(col("c").desc, col("pred").asc)))
      .where(col("rn") <= topK)
      .groupBy("e")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("pred")))),
        x => x.getField("pred")), ",").as(name))
    base.join(ty, "e")
      .join(topPreds(outSide = true, "top_preds_out"), Seq("e"), "left")
      .join(topPreds(outSide = false, "top_preds_in"), Seq("e"), "left")
      .na.fill("", Seq("top_preds_out", "top_preds_in"))
      .select(col("e").as("entity_id"), col("entity_type"),
        col("n_mentions"), col("n_docs"), col("out_degree"),
        col("in_degree"), col("top_preds_out"), col("top_preds_in"))
  }

  /** Second-order (node2vec-style, Grover & Leskovec 2016) biased walks:
    * like [[randomWalks]] but the step distribution depends on the
    * PREVIOUS node — a candidate x from cur weighs `returnWeight` if
    * x = prev (the 1/p return bias), 1000 if edge (prev, x) exists (the
    * BFS-ish d=1 band), else `inOutWeight` (the 1/q DFS-ish band).
    * Weights are integer milli-units, so the whole draw is exact: the
    * pick is the candidate (ordered by id) whose cumulative-weight slot
    * contains pmod(poly_hash('n2v'␁seed␁step␁walk_no␁prev␁cur), Σw) —
    * deterministic across partitionings, retries, and engines. Step 1
    * has no meaningful prev and is uniform (all weights 1000, the
    * standard node2vec first step). A state whose candidates all weigh 0
    * (e.g. returnWeight=0 and the only neighbor is prev) terminates like
    * a sink; walkLen is a cap, not a promise.
    *
    * Physical shape per step: frontier × out-neighbors (one equi-join,
    * volume Σ odeg(cur) over live walks), one left equi-join against the
    * edge set for the d=1 membership test, and two windows keyed by
    * (start, walk_no) — each partition holds ONE state's candidate list,
    * so the window never sees more than a node's out-degree. No
    * driver-side state; frontiers localCheckpoint per step like
    * [[randomWalks]].
    */
  def node2vecWalks(triples: DataFrame, walksPerStart: Int = 2,
                    walkLen: Int = 3, returnWeight: Long = 500L,
                    inOutWeight: Long = 500L, seed: Long = 42L): DataFrame = {
    require(walksPerStart >= 1 && walkLen >= 1,
      s"node2vecWalks: walksPerStart/walkLen must be >= 1")
    require(returnWeight >= 0L && inOutWeight >= 0L,
      s"node2vecWalks: weights must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val edges = edgeSet(triples).localCheckpoint()
    var cur = edges.select(col("src")).distinct()
      .select(col("src").as("start"),
        explode(sequence(lit(0), lit(walksPerStart - 1))).as("walk_no"),
        col("src").as("prev"), col("src").as("cur"))
      .localCheckpoint()
    var out = cur.select(col("start"), col("walk_no"),
      lit(0).as("step"), col("cur").as("entity_id"))
    val byWalk = Window.partitionBy("start", "walk_no")
    for (i <- 1 to walkLen) {
      val cand0 = cur
        .join(edges.select(col("src").as("csrc"), col("dst").as("x")),
          col("cur") === col("csrc"))
        .drop("csrc")
      val mem = edges.select(col("src").as("msrc"), col("dst").as("mx"),
        lit(1).as("has"))
      val cand = cand0
        .join(mem, cand0("prev") === mem("msrc") && cand0("x") === mem("mx"),
          "left")
        .drop("msrc", "mx")
        .withColumn("w",
          if (i == 1) lit(1000L)
          else when(col("x") === col("prev"), lit(returnWeight))
            .when(col("has") === 1, lit(1000L))
            .otherwise(lit(inOutWeight)))
        .withColumn("cum", sum("w").over(byWalk.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum("w").over(byWalk))
        .where(col("tot") > 0L)
        .withColumn("r", pmod(graft.functions.F.poly_hash(concat_ws("\u0001",
          lit("n2v"), lit(seed.toString), lit(i.toString),
          col("walk_no").cast("string"), col("prev"), col("cur"))),
          col("tot")))
      val stepped = cand
        .where(col("cum") - col("w") <= col("r") && col("r") < col("cum"))
        .select(col("start"), col("walk_no"), col("cur").as("prev"),
          col("x").as("cur"))
        .localCheckpoint()
      out = out.unionByName(stepped.select(col("start"), col("walk_no"),
        lit(i).as("step"), col("cur").as("entity_id")))
      cur = stepped
    }
    out
  }

  /** Multi-seed shortest-path FOREST: [[bfsDistances]] plus a
    * deterministic parent pointer, so a consumer can reconstruct an
    * actual shortest path (KG question-answering "how are these entities
    * related" explanations), not just the hop count. parent(v) = the
    * MINIMUM entity id among v's predecessors at dist(v)-1 — a pure
    * function of the edge set; seeds carry parent = ''.
    *
    * Same superstep shape as BFS (frontier equi-join + min-aggregate per
    * hop); the merge keeps min(struct(dist, parent)), so an entity
    * reached at hop i from several frontier nodes records the smallest
    * such parent, and later (longer) discoveries never overwrite.
    */
  def shortestPathForest(triples: DataFrame, seeds: DataFrame,
                         maxHops: Int,
                         undirected: Boolean = false): DataFrame = {
    require(maxHops >= 1, s"shortestPathForest: maxHops must be >= 1")
    val edges = edgeSet(triples, undirected).persist(StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.select(col("entity_id")).distinct()
      .withColumn("dist", lit(0))
      .withColumn("parent", lit(""))
      .localCheckpoint()
    for (i <- 1 to maxHops) {
      val frontier = dist.where(col("dist") === i - 1)
      val next = frontier.join(edges, frontier("entity_id") === edges("src"))
        .select(edges("dst").as("entity_id"), lit(i).as("dist"),
          edges("src").as("parent"))
      dist = dist.unionByName(next)
        .groupBy("entity_id")
        .agg(min(struct(col("dist"), col("parent"))).as("m"))
        .select(col("entity_id"), col("m.dist").as("dist"),
          col("m.parent").as("parent"))
        .localCheckpoint()
    }
    edges.unpersist()
    dist
  }

  /** Strongly connected components over the directed canonical graph —
    * the cycle structure CC cannot see (entity A cites B cites A is one
    * SCC; a DAG of influence is all singletons). scc_id = min entity id
    * in the component (Spark's string order), so output is a pure
    * function of the edge set.
    *
    * Size-adaptive through [[loadEdges]]: an edge set within
    * `maxLocalEdges` runs iterative Kosaraju on the driver; bigger
    * graphs take the distributed trim + double-min-label loop (the
    * Pregel/GraphX SCC shape):
    *   round := peel-to-fixpoint nodes missing an in- or out-edge
    *            (singleton SCCs — kills all DAG regions), then
    *            F(v) = min id that reaches v (min-label propagation
    *            forward to fixpoint), B(v) = min id v reaches (same on
    *            reversed edges); F(v)=B(v)=m ⟺ v ∈ SCC(m), and F/B are
    *            constant on an SCC, so whole components assign at once;
    *            remove assigned, repeat.
    * The SCC of the globally minimal live id assigns every round, so
    * rounds <= #SCCs; on real KG graphs trim plus the first F/B pass
    * clears almost everything. `maxRounds` is a fail-fast cap
    * (require(converged)), not a truncation.
    *
    * Physical shape per superstep: one equi-join labels><edges + one
    * min hash-aggregate (AQE-splittable on hot entities);
    * localCheckpoint truncates lineage per step like [[bfsDistances]].
    */
  def scc(triples: DataFrame, maxLocalEdges: Long = 2000000L,
          maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1, s"scc: maxRounds must be >= 1")
    val edges0 = edgeSet(triples)
    def sized(all: DataFrame) =
      all.join(all.groupBy("scc_id").agg(count(lit(1)).as("scc_size")), "scc_id")
        .select(col("entity_id"), col("scc_id"), col("scc_size"))
    val cached = loadEdges(edges0, maxLocalEdges) match {
      case Left(rows) =>
        val g = new LocalGraph(rows)
        val n = g.ids.length
        val adj = rows.indices.groupMap(g.src(_))(g.dst(_))
        val radj = rows.indices.groupMap(g.dst(_))(g.src(_))
        // iterative Kosaraju: explicit stacks (no recursion — a 10^6-long
        // path must not overflow), component id fixed to min member after
        val visited = new Array[Boolean](n)
        val order = new scala.collection.mutable.ArrayBuffer[Int](n)
        val stack = new scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        for (s <- 0 until n if !visited(s)) {
          visited(s) = true; stack += ((s, 0))
          while (stack.nonEmpty) {
            val (v, i) = stack.remove(stack.length - 1)
            val nb = adj.getOrElse(v, IndexedSeq.empty)
            if (i < nb.length) {
              stack += ((v, i + 1))
              val w = nb(i)
              if (!visited(w)) { visited(w) = true; stack += ((w, 0)) }
            } else order += v
          }
        }
        val comp = Array.fill(n)(-1)
        val dfs2 = new scala.collection.mutable.ArrayBuffer[Int]()
        for (s <- order.reverseIterator if comp(s) < 0) {
          val members = new scala.collection.mutable.ArrayBuffer[Int]()
          comp(s) = s; dfs2 += s
          while (dfs2.nonEmpty) {
            val v = dfs2.remove(dfs2.length - 1); members += v
            for (w <- radj.getOrElse(v, IndexedSeq.empty) if comp(w) < 0) { comp(w) = s; dfs2 += w }
          }
          val m = members.minBy(g.ids(_))(sparkOrder)
          members.foreach(comp(_) = m)
        }
        val size = comp.groupMapReduce(identity)(_ => 1L)(_ + _)
        return localFrame(triples,
          sized(nodesOf(edges0).select(col("entity_id"), col("entity_id").as("scc_id"))).schema,
          (0 until n).map(v => Row(g.ids(v), g.ids(comp(v)), size(comp(v)))))
      case Right(c) => c
    }
    var edges = cached
    var nodes = nodesOf(edges, "id").localCheckpoint()
    val acc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var rounds = 0
    var live = nodes.count()
    while (live > 0 && rounds < maxRounds) {
      rounds += 1
      // trim to fixpoint: a node missing an in- OR out-edge is its own SCC
      var trimming = true
      while (trimming && live > 0) {
        val both = nodes
          .join(edges.select(col("src").as("id")).distinct(), "id")
          .join(edges.select(col("dst").as("id")).distinct(), "id")
          .localCheckpoint()
        val single = nodes.join(both, Seq("id"), "left_anti").localCheckpoint()
        if (single.isEmpty) trimming = false
        else {
          acc += single.select(col("id").as("entity_id"),
            col("id").as("scc_id"))
          nodes = both
          edges = edges
            .join(nodes.select(col("id").as("src")), "src")
            .join(nodes.select(col("id").as("dst")), "dst")
            .select("src", "dst").localCheckpoint()
          live = nodes.count()
        }
      }
      if (live > 0) {
        // min-label fixpoints: F forward, B backward
        def fixpoint(e: DataFrame, from: String, to: String): DataFrame = {
          var lab = nodes.select(col("id"), col("id").as("lab"))
            .localCheckpoint()
          var changed = 1L
          while (changed > 0) {
            val nxt = e
              .join(lab.select(col("id").as(from), col("lab")), from)
              .select(col(to).as("id"), col("lab"))
              .unionByName(lab)
              .groupBy("id").agg(min("lab").as("lab"))
              .localCheckpoint()
            changed = nxt.join(lab.withColumnRenamed("lab", "old"), "id")
              .where(col("lab") =!= col("old")).count()
            lab = nxt
          }
          lab
        }
        val f = fixpoint(edges, "src", "dst")
        val b = fixpoint(edges, "dst", "src")
        // `min` is nullable in Spark's schema, though no label is null:
        // coalescing to the id gives scc_id the ids' nullability, as on the
        // trimmed side, so the output schema does not depend on the data
        val assigned = f.join(b.withColumnRenamed("lab", "blab"), "id")
          .where(col("lab") === col("blab"))
          .select(col("id").as("entity_id"), coalesce(col("lab"), col("id")).as("scc_id"))
          .localCheckpoint()
        acc += assigned
        nodes = nodes.join(assigned.select(col("entity_id").as("id")),
          Seq("id"), "left_anti").localCheckpoint()
        edges = edges
          .join(nodes.select(col("id").as("src")), "src")
          .join(nodes.select(col("id").as("dst")), "dst")
          .select("src", "dst").localCheckpoint()
        live = nodes.count()
      }
    }
    cached.unpersist(blocking = false)
    require(live == 0,
      s"scc: did not converge within $maxRounds rounds ($live nodes live)")
    sized(acc.reduce(_ unionByName _))
  }

  /** Deterministic annotation batches: up to `k` supporting mentions
    * per canonical entity, picked by hash rank — the export a human-eval
    * loop reads to spot-check linking/extraction quality per entity
    * without any frequency bias (hash order ≈ uniform over the entity's
    * mentions, yet reproducible across retries, partitionings, and
    * engines — the [[neighborSample]] rule on mention rows).
    *
    * One two-sided explode of the triple table, then a single
    * entity-keyed window whose rank≤k filter runs as WindowGroupLimit —
    * a 10^6-mention hub entity costs k output rows and never a full
    * sort of its mention list beyond the per-partition top-k.
    */
  def annotationSample(triples: DataFrame, k: Int = 3,
                       seed: Long = 42L): DataFrame = {
    require(k >= 1, s"annotationSample: k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val m = triples.select(explode(array(
        struct(col("subj_id").as("entity_id"), lit("subj").as("role"),
          col("docId"), col("spanOrder"), col("sentIdx"), col("pred"),
          col("obj_id").as("other_id")),
        struct(col("obj_id").as("entity_id"), lit("obj").as("role"),
          col("docId"), col("spanOrder"), col("sentIdx"), col("pred"),
          col("subj_id").as("other_id")))).as("x"))
      .select("x.*")
      .distinct()
    val h = graft.functions.F.poly_hash(concat_ws("\u0001",
      lit("ann"), lit(seed.toString), col("entity_id"), col("docId"),
      col("spanOrder").cast("string"), col("sentIdx").cast("string"),
      col("pred"), col("other_id"), col("role")))
    m.withColumn("pick", row_number().over(
        Window.partitionBy("entity_id").orderBy(h.asc, col("docId").asc,
          col("spanOrder").asc, col("sentIdx").asc, col("pred").asc,
          col("other_id").asc, col("role").asc)))
      .where(col("pick") <= k)
      .select(col("entity_id"), col("pick").cast("long").as("pick"),
        col("role"), col("docId").as("doc_id"),
        col("spanOrder").as("span_order"),
        col("sentIdx").as("sent_idx"), col("pred"), col("other_id"))
  }

  /** Entity-linking coverage report: per mention type, how many triple
    * mentions resolved to a dictionary canonical vs fell through to the
    * `M:`-prefixed mention-normal fallback (Kg.linkCanonicalize's
    * contract: `coalesce(canonical, 'M:' || norm)` — dictionary keys
    * never carry the prefix) — the first linking-quality table a KG
    * curator reads after a dictionary update, in integer ppm. One
    * two-sided explode + one hash aggregate.
    */
  def linkCoverage(triples: DataFrame): DataFrame =
    triples.select(explode(array(
        struct(col("subj_type").as("tpe"), col("subj_id").as("id")),
        struct(col("obj_type").as("tpe"), col("obj_id").as("id")))).as("x"))
      .select("x.*")
      .groupBy("tpe")
      .agg(count(lit(1)).as("n_mentions"),
        count(when(!col("id").startsWith("M:"), 1)).as("n_linked"))
      .select(col("tpe"), col("n_mentions"), col("n_linked"),
        expr("(n_linked * 1000000) div n_mentions").as("linked_ppm"))

  /** Ontology/schema induction: per (pred, subj_type, obj_type)
    * signature, triple count, distinct (subj, obj) pair count, and the
    * signature's share of its predicate's triples in integer ppm — the
    * table a KG curator reads to fix predicate domains/ranges and spot
    * extraction noise (a `works_at` signature with a LOC subject is a
    * pattern bug, and its ppm share says how bad).
    *
    * One two-phase hash aggregate over the triple table plus a window
    * keyed by pred (predicate cardinality is tiny — the window input is
    * the aggregated signature table, not the corpus).
    */
  def predicateSignatures(triples: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    triples.groupBy("pred", "subj_type", "obj_type")
      .agg(count(lit(1)).as("n_triples"),
        countDistinct(col("subj_id"), col("obj_id")).as("n_pairs"))
      .withColumn("pred_total",
        sum("n_triples").over(Window.partitionBy("pred")))
      .select(col("pred"), col("subj_type"), col("obj_type"),
        col("n_triples"), col("n_pairs"),
        expr("(n_triples * 1000000) div pred_total").as("share_ppm"))
  }
}
