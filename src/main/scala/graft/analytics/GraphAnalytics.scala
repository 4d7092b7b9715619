package graft.analytics

import org.apache.spark.graphx.{Edge, Graph => XGraph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Whole-graph analytics over graph exports — the capability layer beyond
 * the reference's bounded-hop traversal surface (SURVEY §1.4, BASELINE
 * north star: "GraphX for analytics over graph exports").
 *
 * Input is the same relational shape the traversal layer uses: a vertex
 * DataFrame with a long `vid` and an edge DataFrame with (`src`, `dst`).
 * GraphX is the right tool exactly where Catalyst is not: fixed-point
 * iteration (components, shortest paths) that would otherwise be an
 * unbounded chain of self-joins.
 *
 * Scale notes: GraphX partitions edges (EdgePartition2D keeps the
 * replication factor ~sqrt(parts)); its ops below are O(iterations ×
 * edges) message passing with no driver-side state.
 */
object GraphAnalytics {

  private def toEdgeRDD(edges: DataFrame): RDD[Edge[Double]] =
    edges.select(col("src").cast("long"), col("dst").cast("long")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1.0))

  /** Connected components: returns (vid, component) where component is the
    * smallest vertex id in the component (GraphX's convention). */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val g = XGraph.fromEdges(toEdgeRDD(edges), 0.0)
    g.connectedComponents().vertices
      .map { case (vid: VertexId, comp: VertexId) => (vid, comp) }
      .toDF("vid", "component")
  }

  /** Per-vertex triangle count (undirected). GraphX's triangleCount()
    * removes self-edges and canonicalizes internally — no Catalyst-side
    * pre-pass, which would just add a redundant shuffle of the edge set. */
  def triangleCount(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val g = XGraph.fromEdges(toEdgeRDD(edges), 0.0)
    g.triangleCount().vertices
      .map { case (vid: VertexId, n: Int) => (vid, n.toLong) }
      .toDF("vid", "triangles")
  }

  /** Deterministic synchronous label propagation (community detection),
    * `iters` fixed rounds over the UNDIRECTED rendering of the edge set:
    * every vertex starts labeled with its own id and each round adopts
    * the most frequent label among its neighbors, ties broken by the
    * SMALLEST label. Implemented as Catalyst joins (per round: one
    * shuffle to histogram neighbor labels, one degree-bounded window to
    * pick the winner) rather than GraphX's built-in
    * `LabelPropagation.run`, whose tie-break keeps whichever map entry
    * it happens to iterate first — nondeterministic across runs and
    * partitionings, which would make an oracle compare (and any
    * reproducible production run) impossible.
    *
    * Semantics note (classic synchronous-LPA behavior, spec'd in the
    * oracle): on bipartite-ish layers labels can oscillate between
    * rounds — the leaf layer still converges to its community labels
    * (customers land on their region), and a production deployment
    * wanting full convergence uses a semi-synchronous schedule on top
    * of this same per-round operator. */
  def labelPropagation(spark: SparkSession, edges0: DataFrame, iters: Int): DataFrame = {
    val edges = edges0.select(col("src"), col("dst"))
      .union(edges0.select(col("dst").as("src"), col("src").as("dst")))
      .alias("e")
    var labels = edges.select(col("src").as("vid")).distinct()
      .withColumn("label", col("vid"))
    for (_ <- 1 to iters) {
      val l = labels.alias("l")
      val hist = edges.join(l, col("e.src") === col("l.vid"))
        .groupBy(col("e.dst").as("nv"), col("l.label").as("nl"))
        .agg(count(lit(1)).as("cnt"))
      // winner per vertex as a HASH AGGREGATE: min over (−cnt, nl)
      // structs is exactly "most frequent, ties to smallest label" (the
      // former row_number window's ordering), but it partial-aggregates
      // map-side and never sorts — the window shape shuffled and sorted
      // every histogram row per round (r15, guide §2.3/§2.4)
      labels = hist
        .groupBy(col("nv").as("vid"))
        .agg(min(struct((-col("cnt")).as("ncnt"), col("nl"))).as("w"))
        .select(col("vid"), col("w.nl").as("label"))
    }
    labels
  }

  /** Hop distance to the nearest landmark via GraphX ShortestPaths (BFS
    * over the undirected rendering of the edge set). */
  def nearestLandmark(spark: SparkSession, edges: DataFrame, landmarks: Seq[Long]): DataFrame = {
    import spark.implicits._
    // ShortestPaths propagates along incoming edges; add both directions
    val undirected = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val g = XGraph.fromEdges(toEdgeRDD(undirected), 0.0)
    org.apache.spark.graphx.lib.ShortestPaths.run(g, landmarks).vertices
      .map { case (vid: VertexId, dists) =>
        (vid, if (dists.isEmpty) -1L else dists.values.min.toLong)
      }
      .toDF("vid", "dist")
  }

  /** PageRank as a declarative DataFrame fixed-iteration loop with exact
    * DECIMAL rank arithmetic: `rank_v = 0.15 + 0.85 · Σ rank_u / outDeg(u)`
    * (GraphX staticPageRank's convention — no dangling-mass
    * redistribution, initial rank 1.0). Decimal accumulation makes the
    * result independent of partitioning AND bit-reproducible by the DuckDB
    * oracle — double summation order would not be. Each iteration is two
    * equi-joins + one groupBy on the vertex id; with the edge table hash-
    * partitioned on src (as a production deployment would bucket it), the
    * join is co-located and only the contribution sum shuffles. Each step
    * is re-planned, which suits few, fixed iterations; the plans stay
    * inside Catalyst/AQE. */
  def pageRankDecimal(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(28, 10)
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val verts = e.select(col("src").as("vid")).union(e.select(col("dst").as("vid"))).distinct()
    val outDeg = e.groupBy(col("src").as("osrc")).agg(count(lit(1)).as("odeg"))
    var ranks = verts.select(col("vid"), lit(1).cast(dec).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = e
        .join(ranks, e("src") === ranks("vid"))
        .join(outDeg, e("src") === col("osrc"))
        .select(e("dst").as("cvid"), (col("rank") / col("odeg")).cast(dec).as("c"))
      val sums = contribs.groupBy(col("cvid")).agg(sum(col("c")).as("insum"))
      ranks = verts
        .join(sums, verts("vid") === sums("cvid"), "left_outer")
        .select(
          verts("vid"),
          (lit(BigDecimal("0.15")).cast(dec) +
            (lit(BigDecimal("0.85")).cast(DecimalType(3, 2)) * coalesce(col("insum"), lit(0).cast(dec))).cast(dec))
            .cast(dec).as("rank"))
    }
    ranks.select(col("vid"), col("rank").cast("double").as("rank"))
  }
}
