package graft.kg

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Connected components over an edge DataFrame via alternating
  * large-star / small-star (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14) — converges in O(log n) rounds on
  * adversarial chains, each round = groupBy + join (shuffle on node id),
  * so it scales to billions of edges; `localCheckpoint` cuts lineage per
  * round. This is the canonicalization engine for alias same-as edges
  * (graft stage; no counterpart in the reference).
  */
object ConnectedComponents {

  /** Size-adaptive entry point: a graph that fits comfortably on the driver
    * (like the broadcast alias dictionary's same-as edges — broadcastable by
    * assumption) is solved with an in-memory union-find in O(E α(E));
    * anything bigger takes the distributed large-star/small-star path.
    * The edge set is evaluated once: at most `driverMaxEdges + 1` edges are
    * collected and their count picks the side. Both sides return the same
    * rows and schema.
    */
  def runAdaptive(edges: DataFrame, vertices: DataFrame,
                  driverMaxEdges: Long = 2000000L): DataFrame = {
    val limit = math.min(driverMaxEdges, Int.MaxValue - 8L).toInt + 1
    val es = edges.select("src", "dst").limit(limit).collect()
    if (es.length >= limit) return run(edges, vertices)
    val vs = vertices.select("id").collect().map(_.getString(0))
    val comp = onDriver(es.iterator.map(r => (r.getString(0), r.getString(1))), vs)
    // nullability as in run(): the component coalesces to the vertex id
    val nullable = vertices.schema("id").nullable
    edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(vs.indices.map(i => Row(vs(i), comp(i))): _*),
      StructType(Seq(StructField("id", StringType, nullable),
        StructField("component", StringType, nullable))))
  }

  /** The driver-side twin of [[run]]: for each vertex, the smallest id in
    * its component, by union-find in O(E α(E)) that keeps the smaller root
    * in Spark's string order ([[Analytics.sparkOrder]]). Like
    * `greatest`/`least` in [[run]], an edge with a null endpoint joins
    * nothing.
    */
  private[kg] def onDriver(edges: Iterator[(String, String)],
                           vertices: Array[String]): Array[String] = {
    val parent = new java.util.HashMap[String, String]()
    def find(x: String): String = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != c) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      if (a != null && b != null) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (Analytics.sparkOrder.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    vertices.map(find)
  }

  /** @param edges    (src, dst) string ids, undirected
    * @param vertices (id) — all ids, including isolated ones
    * @return (id, component) where component = min id in the component
    */
  def run(edges: DataFrame, vertices: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession

    // orient u > v, drop self-loops
    var e = edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: over the bidirectional neighborhood of u, connect every
      // LARGER neighbor to m = min(N(u) ∪ u)
      val bidir = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = bidir.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: for each u over its smaller neighbors (plus u itself),
      // connect all of them to the minimum
      val minsS = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(minsS, "u")
        .select(col("v").as("a"), col("m"))
        .unionAll(minsS.select(col("u").as("a"), col("m")))
        .where(col("a") =!= col("m"))
        .select(greatest(col("a"), col("m")).as("u"),
          least(col("a"), col("m")).as("v"))
        .distinct()
        .localCheckpoint()

      // converged when the edge set is stable: size + order-insensitive
      // 64-bit content hash (xxhash64 XOR-fold: overflow-free under ANSI,
      // sound because the edge set is distinct; a 32-bit hash sum over
      // large edge sets had a real collision-driven false-convergence risk)
      def sig(df: DataFrame) =
        df.agg(count(lit(1)),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).first()
      converged = sig(e) == sig(small)
      e = small
      iter += 1
    }
    // a silently non-converged mapping would merge/split entities wrongly
    // downstream — refuse to return one (25 alternating rounds covers any
    // realistic graph; O(log n) convergence per Kiveris et al.)
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds")

    vertices.select(col("id"))
      .join(e.select(col("u").as("id"), col("v").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }
}
