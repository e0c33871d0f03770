package graft.graph

import org.apache.spark.graphx.{Edge => GxEdge, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX (Pregel) backends for whole-graph analytics (SURVEY §7.0: plain
  * iterative DataFrame joins are the default for frontier-style traversal;
  * GraphX is the right tool when the computation touches EVERY vertex for
  * many rounds — connected components, PageRank-style propagation — where
  * per-round driver scheduling of DataFrame jobs would dominate).
  *
  * Vertex ids are hashed from string node ids (xxhash64 collision space
  * 2⁻⁶⁴ per pair); the id→name mapping rides along as a vertex attribute.
  */
object GraphXOps {

  /** Build a GraphX graph from a string-keyed edge DataFrame (src, dst). */
  def fromEdges(edges: DataFrame): Graph[String, Int] = {
    val ids = edges.select(col("src").as("name"))
      .unionAll(edges.select(col("dst")))
      .distinct()
      .select(xxhash64(col("name")).as("id"), col("name"))
    val vertexRdd = ids.rdd.map(r => (r.getLong(0), r.getString(1)))
    val edgeRdd = edges
      .select(xxhash64(col("src")).as("s"), xxhash64(col("dst")).as("d"))
      .rdd.map(r => GxEdge(r.getLong(0), r.getLong(1), 1))
    Graph(vertexRdd, edgeRdd, defaultVertexAttr = "",
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
  }

  /** Static PageRank via GraphX's message-passing implementation — the
    * cross-validation twin of GraphOps.pageRank (same convention: r₀ = 1,
    * r = reset + (1−reset)·Σ incoming, dangling mass dropped). Two caveats
    * for comparison: GraphX rescales final ranks to sum to n (SPARK-18847
    * sink correction) where the DataFrame loop reports raw iterates, and
    * message-sum order varies with partitioning — so agreement is
    * after-normalization and within float tolerance, not bit-exact
    * (GraphXOpsSpec). */
  def pageRank(edges: DataFrame, iterations: Int,
      resetProb: Double = 0.15): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = fromEdges(edges)
    g.staticPageRank(iterations, resetProb).vertices
      .join(g.vertices)
      .map { case (_, (rank, name)) => (name, rank) }
      .toDF("node", "r")
  }

  /** Connected components via GraphX's Pregel implementation; returns
    * (node, component) where the component id is the minimum member name
    * (deterministic, engine-independent). */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = fromEdges(edges)
    val cc = g.connectedComponents()
    val assignments = cc.vertices
      .join(g.vertices)
      .map { case (_, (comp, name)) => (comp, name) }
      .toDF("comp", "node")
    // map internal min-hash component ids to min node NAME per component
    val canonical = assignments.groupBy("comp").agg(min(col("node")).as("component"))
    assignments.join(canonical, "comp").select(col("node"), col("component"))
  }

  /** Auto-dispatching connected components: union-find in the driver-side
    * accelerator under the edge threshold, GraphX Pregel above it (same
    * split as GraphOps.bfsAuto; min-name canonical ids either way). */
  def connectedComponentsAuto(edges: DataFrame,
      accelThreshold: Long = GraphOps.DefaultAccelThreshold): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    GraphOps.ensureLoaded(edges, accelThreshold) match {
      case Some(g) =>
        val (ns, cs) = g.connectedComponentsArrays()
        GraphOps.accelPairsDF(spark, ns, cs, "node", "component")
      case None    => connectedComponents(edges)
    }
  }

  /** Pregel single-source shortest paths (hop metric) — the GraphX twin of
    * GraphOps.bfs for cross-validation; undirected. */
  def pregelHops(edges: DataFrame, start: String, maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g0 = fromEdges(edges)
    // same hash codepath as the Column-side xxhash64
    val startId = spark.range(1).select(xxhash64(lit(start))).head().getLong(0)
    val init = g0.mapVertices((id, name) =>
      (name, if (id == startId) 0 else Int.MaxValue))
    val res = org.apache.spark.graphx.Pregel(
      init, Int.MaxValue, maxIterations = maxDepth,
      activeDirection = org.apache.spark.graphx.EdgeDirection.Either)(
      vprog = (_, attr, msg) => (attr._1, math.min(attr._2, msg)),
      sendMsg = t => {
        val out =
          if (t.srcAttr._2 != Int.MaxValue && t.srcAttr._2 + 1 < t.dstAttr._2)
            Iterator((t.dstId, t.srcAttr._2 + 1)) else Iterator.empty
        val in =
          if (t.dstAttr._2 != Int.MaxValue && t.dstAttr._2 + 1 < t.srcAttr._2)
            Iterator((t.srcId, t.dstAttr._2 + 1)) else Iterator.empty
        out ++ in
      },
      mergeMsg = math.min)
    res.vertices.map { case (_, (name, d)) => (name, d) }
      .filter(_._2 != Int.MaxValue)
      .toDF("node", "distance")
  }

  /** Per-node triangle counts via GraphX's TriangleCount — the twin of
    * GraphOps.triangleCounts for cross-validation. GraphX requires
    * canonical orientation (srcId < dstId, no self-loops) and a
    * partitioning strategy; nodes with zero triangles are dropped to
    * match the DataFrame shape. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = fromEdges(edges
        .where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .distinct())
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
    g.triangleCount().vertices
      .join(g.vertices)
      .map { case (_, (n, name)) => (name, n.toLong) }
      .filter(_._2 > 0)
      .toDF("node", "n_triangles")
  }
}
