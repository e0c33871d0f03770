package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Distributed graph traversal over a plain edge DataFrame.
  *
  * Contract mirrors the reference's `graph_accel` traversal surface
  * (graph-accel/core/src/traversal.rs:113-199 BFS, 207-305 shortest path,
  * 306-487 k-paths, 552-600 degree, 488-550 subgraph) re-expressed as
  * iterative DataFrame joins: each BFS hop is one equi-join that Catalyst
  * plans independently, so cost grows with frontier size — not join arity —
  * which is exactly why the reference abandoned Cypher `[*1..N]` plans
  * (graph-accel/docs/benchmark-findings.md:45-120).
  *
  * Edge schema: `src: string, dst: string` plus optional
  * `rel_type: string`, `confidence: double`.
  *
  * Scale notes (100 TB design):
  *  - The frontier is usually tiny vs the edge table → the frontier side is
  *    broadcast, so a hop is a broadcast hash join against a partitioned
  *    edge scan: no shuffle of the big table per hop. The broadcast is
  *    GUARDED, not forced: each hop knows the frontier's exact row count
  *    from the previous materialization, and past
  *    [[GraphOps.DefaultFrontierBroadcastLimit]] the hop degrades to a
  *    plain shuffle join — a depth-2+ frontier on a dense graph can be
  *    tens of millions of nodes, which a forced broadcast() (which ignores
  *    autoBroadcastJoinThreshold) would ship to every executor.
  *  - `localCheckpoint` truncates lineage each hop (driver-loop iterative
  *    plans otherwise grow exponentially).
  *  - The visited set stays distributed; nothing is collected.
  *  - Filters (confidence, rel-type) are applied to the edge view BEFORE the
  *    loop, so they push into the Parquet scan — the reference instead
  *    post-filters rel types in Python (api/app/lib/graph_facade.py:214-221).
  *
  * Engine choice lives here and nowhere else: every `*Auto` entry point
  * (and every caller routed through one — the KnowledgeGraph facade's
  * traversals and path calls, the graph queries, the `graft_path` TVFs)
  * asks the driver-side accelerator ([[InMemoryGraph]], [[WeightedGraph]])
  * first, the way the reference answers /query/related, /query/connect and
  * /query/paths (graph_facade.py:186-411). The graph loads once per
  * edge-view plan into a plan-keyed cache, with its rel types and
  * confidences, so every filter subset traverses the one resident graph;
  * only a view over the edge threshold falls back to the distributed
  * iterative-join engines below, which filter in [[oriented]] and also
  * serve as the differential specs' reference. Four kinds are resident,
  * each in its own cache: unweighted graphs, weighted graphs, the
  * facade's concept tables ([[residentConcepts]]) and its concept cards
  * ([[residentCards]]). A concept table loads once per `concepts` plan,
  * and the cards once per card plan, each in one result task, while its
  * resident bytes fit [[ConceptTable.BudgetBytes]]; then search, fuse,
  * label hydration and the concept card run on the driver with no Spark
  * job. A larger table keeps the facade's Spark plans.
  */
object GraphOps {

  /** Direction semantics per reference api/app/lib/graph_facade.py:186-256. */
  sealed trait Direction
  case object Outgoing extends Direction
  case object Incoming extends Direction
  case object Both extends Direction

  /** NULL confidence passes the filter — NaN-sentinel semantics from the
    * Rust core (graph-accel/core/src/graph.rs:44-57, traversal.rs:93-104). */
  private def confidencePredicate(minConfidence: Option[Double]): Column =
    minConfidence match {
      case Some(t) => col("confidence").isNull || col("confidence") >= lit(t)
      case None    => lit(true)
    }

  /** Oriented `(node, next, rel_type)` view of the edge table for a
    * traversal direction; filters are applied here so they reach the scan. */
  def oriented(
      edges: DataFrame,
      direction: Direction,
      minConfidence: Option[Double] = None,
      relTypes: Option[Seq[String]] = None): DataFrame = {
    val hasRel = edges.columns.contains("rel_type")
    val relCol = if (hasRel) col("rel_type") else lit(null).cast("string")
    // No confidence column ≡ all-NULL confidence ≡ every edge passes (F5:
    // NULL passes) — mirrors the resident graph's traversal filters so
    // both dispatch targets of bfsAuto stay result-identical by contract.
    val hasConf = edges.columns.contains("confidence")
    val filtered = edges
      .where(if (hasConf) confidencePredicate(minConfidence) else lit(true))
      .where(relTypes match {
        case Some(ts) if hasRel => col("rel_type").isin(ts: _*)
        case _                  => lit(true)
      })
    val out = filtered.select(col("src").as("node"), col("dst").as("next"), relCol.as("rel_type"))
    val in  = filtered.select(col("dst").as("node"), col("src").as("next"), relCol.as("rel_type"))
    direction match {
      case Outgoing => out
      case Incoming => in
      case Both     =>
        // explode both orientations from ONE scan (a union would read the
        // upstream plan twice — at 100 TB that doubles the dominant cost)
        filtered.select(explode(array(
            struct(col("src").as("node"), col("dst").as("next"), relCol.as("rel_type")),
            struct(col("dst").as("node"), col("src").as("next"), relCol.as("rel_type"))))
          .as("e"))
          .select(col("e.node"), col("e.next"), col("e.rel_type"))
    }
  }

  /** Frontier rows above which a BFS hop stops force-broadcasting the
    * frontier and falls back to a plain shuffle join. ~10 M short node ids
    * ≈ 100 MB serialized — comfortably under the 8 GB broadcast hard limit
    * but past the point where shipping the frontier to every executor beats
    * shuffling it once. Dense graphs at 100× scale reach this by depth 2. */
  val DefaultFrontierBroadcastLimit: Long = 10000000L

  /** Default accelerator capacity, in edges. The accelerator is the
    * reference's graph-accel design point — the WHOLE (filtered) graph
    * resident in RAM, traversed without per-hop job scheduling
    * (graph-accel/docs/benchmark-findings.md:45-120) — so the threshold
    * should be sized to driver memory, not set timidly: adjacency is two
    * int arrays (~8 B/edge) plus the node-name dictionary, so 20M edges is
    * ~200-400 MB resident — comfortable for any driver that runs real
    * workloads, and the r11 sf10 audit measured the cost of landing just
    * past a too-low threshold as a 40-240× per-query cliff (BFS-family
    * queries falling off the accelerator onto per-hop distributed joins).
    * Above this, the distributed iterative-join engines own the graph —
    * that is genuinely cluster territory (~1B+ edges at 100 TB scale).
    * Override per call, or fleet-wide via GRAFT_ACCEL_THRESHOLD. */
  val DefaultAccelThreshold: Long =
    parseAccelThreshold(sys.env.get("GRAFT_ACCEL_THRESHOLD"))

  /** A GRAFT_ACCEL_THRESHOLD setting: unset is 20M edges; anything but a
    * non-negative integer is refused with an error naming the variable. */
  private[graft] def parseAccelThreshold(raw: Option[String]): Long =
    raw.fold(20000000L) { v =>
      v.trim.toLongOption.filter(_ >= 0L).getOrElse(
        throw new IllegalArgumentException(
          s"GRAFT_ACCEL_THRESHOLD must be a non-negative edge count, got '$v'"))
    }

  /** Driver-side accel results back into a DataFrame. Small results stay a
    * LocalRelation (Catalyst sees exact stats → broadcasts downstream).
    * Large ones are parallelized instead: a LocalRelation's rows are
    * encoded single-threaded on the driver at EVERY action over it —
    * measured 7 s for one aggregate over a 2M-row component assignment at
    * sf10 — while parallelize spreads the encoding across the local
    * executor threads (same rows, ~10× faster, still one driver→executor
    * ship). */
  private[graph] def accelResultDF[A <: Product
      : org.apache.spark.sql.Encoder : scala.reflect.ClassTag](
      spark: org.apache.spark.sql.SparkSession,
      rows: Seq[A], cols: String*): DataFrame = {
    import spark.implicits._
    if (rows.size <= 100000) rows.toDF(cols: _*)
    else {
      val parts = math.min(64, 1 + rows.size / 65536)
      spark.createDataset(spark.sparkContext.parallelize(rows, parts))
        .toDF(cols: _*)
    }
  }

  /** [[accelResultDF]] for a value array aligned with an accel graph's
    * interned node array (PageRank ranks, component assignments). Even the
    * parallelize path above pays per-ELEMENT JavaSerializer cost on 2M
    * boxed tuples — measured 3-5 s per action at sf10 just shipping the
    * result. Chunking the two parallel arrays into per-partition slices
    * serializes each slice as one array block (primitive for doubles) and
    * drops the per-tuple wrappers; the rows only come into existence
    * executor-side. */
  private[graph] def accelPairsDF[V](spark: org.apache.spark.sql.SparkSession,
      names: Array[String], vals: Array[V], c1: String, c2: String)(
      implicit enc: org.apache.spark.sql.Encoder[(String, V)]): DataFrame = {
    import spark.implicits._
    val n = names.length
    if (n <= 100000) names.indices.map(i => (names(i), vals(i))).toDF(c1, c2)
    else {
      val chunk = 65536
      val slices = (0 until n by chunk).map { i =>
        val hi = math.min(i + chunk, n)
        (names.slice(i, hi), vals.slice(i, hi))
      }
      spark.createDataset(
        spark.sparkContext.parallelize(slices, slices.size)
          .flatMap { case (ns, vs) =>
            ns.indices.iterator.map(j => (ns(j), vs(j))) })
        .toDF(c1, c2)
    }
  }

  /** One BFS hop as a plan (no materialization): join the frontier against
    * the oriented adjacency view, keep one deterministic parent per newly
    * reached node, anti-join out already-visited nodes. `broadcastFrontier`
    * decides the join strategy: a forced broadcast is only safe while the
    * frontier is known-small — above [[DefaultFrontierBroadcastLimit]] the
    * caller passes false and Catalyst plans a shuffle join (it may still
    * auto-broadcast if stats say the frontier is tiny, which is fine: the
    * guard exists to prevent the FORCED broadcast of a huge frontier, not
    * to forbid broadcasting ever). Visible to the test package so
    * PlanShapeSpec can pin the no-BroadcastExchange shape of the
    * large-frontier plan. */
  private[graft] def bfsHop(adj: DataFrame, frontier: DataFrame,
      visited: DataFrame, depth: Int, broadcastFrontier: Boolean): DataFrame = {
    val f = frontier.withColumnRenamed("node", "f")
    val fSide = if (broadcastFrontier) broadcast(f) else f
    adj
      .join(fSide, col("node") === col("f"))
      .groupBy(col("next").as("node")).agg(min(col("f")).as("parent"))
      .join(visited.select("node"), Seq("node"), "left_anti")
      .withColumn("distance", lit(depth))
      .select("node", "distance", "parent")
  }

  /** BFS neighborhood with min-distance semantics (reference T1):
    * returns `(node, distance, parent)` for every node reachable within
    * `maxDepth`, each at its MINIMUM distance (W2 dedup built in), with a
    * deterministic parent pointer (min parent id) for path reconstruction.
    * `distance = 0` row for each start node is included.
    *
    * The frontier side of each hop's join is broadcast only while its
    * exact row count (known from the previous hop's materialization — no
    * extra job) stays at or below `frontierBroadcastLimit`; past that the
    * hop is a plain shuffle join, so deep/dense traversals cannot OOM the
    * driver or hit the broadcast size cap however wide the frontier grows.
    */
  def bfs(
      edges: DataFrame,
      startNodes: Seq[String],
      maxDepth: Int,
      direction: Direction = Both,
      minConfidence: Option[Double] = None,
      relTypes: Option[Seq[String]] = None,
      frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val seeds = startNodes.distinct
    bfsImpl(edges, seeds.toDF("node"), Some(seeds.size.toLong), maxDepth,
      direction, minConfidence, relTypes, frontierBroadcastLimit)
  }

  /** [[bfs]] seeded by a DataFrame of node ids instead of a driver-side
    * Seq — the `$W_IDS` contract's scale path (P8, ProgramDispatch): a
    * million-row working set expands by one hop without ever shipping its
    * ids to the driver. The first column of `seeds` is the id; seeds are
    * deduped (a seed set is a set). One extra count() job materializes the
    * seed frontier's size for the broadcast-vs-shuffle decision. */
  def bfsFrom(
      edges: DataFrame,
      seeds: DataFrame,
      maxDepth: Int,
      direction: Direction = Both,
      minConfidence: Option[Double] = None,
      relTypes: Option[Seq[String]] = None,
      frontierBroadcastLimit: Long = DefaultFrontierBroadcastLimit): DataFrame =
    bfsImpl(edges,
      seeds.select(col(seeds.columns.head).cast("string").as("node")).distinct(),
      None, maxDepth, direction, minConfidence, relTypes, frontierBroadcastLimit)

  private def bfsImpl(
      edges: DataFrame,
      seedNodes: DataFrame,
      knownSeedCount: Option[Long],
      maxDepth: Int,
      direction: Direction,
      minConfidence: Option[Double],
      relTypes: Option[Seq[String]],
      frontierBroadcastLimit: Long): DataFrame = {
    val adj = oriented(edges, direction, minConfidence, relTypes)
      .select("node", "next")
      .persist(StorageLevel.MEMORY_AND_DISK)

    var visited = seedNodes
      .withColumn("distance", lit(0))
      .withColumn("parent", lit(null).cast("string"))
      .localCheckpoint(true)
    var frontier = visited.select("node")
    var frontierSize: Long = knownSeedCount.getOrElse(visited.count())
    var depth = 0
    var done = frontierSize == 0L

    while (!done && depth < maxDepth) {
      depth += 1
      // One materializing job per hop: `next` is checkpointed (truncating
      // lineage); `visited` stays a shallow union of ≤ maxDepth
      // materialized hops, which needs no checkpoint of its own. The
      // count() over the checkpointed hop's materialized partitions is a
      // cheap job (no recompute, no rows to the driver) that replaces the
      // old isEmpty() probe and doubles as next hop's broadcast-vs-shuffle
      // decision.
      val next = bfsHop(adj, frontier, visited, depth,
          broadcastFrontier = frontierSize <= frontierBroadcastLimit)
        .localCheckpoint(true)
      val n = next.count()
      if (n == 0L) done = true
      else {
        visited = visited.unionAll(next)
        frontier = next.select("node")
        frontierSize = n
      }
    }
    adj.unpersist()
    visited
  }

  /** Auto-dispatching BFS — the reference's accelerator-with-fallback
    * architecture (graph_facade.py:186-310): below `accelThreshold` edges
    * the (filtered) graph loads into the driver-side [[InMemoryGraph]]
    * (sub-ms traversal, no per-hop job scheduling); above it, the
    * distributed iterative-join BFS runs. Identical results by contract —
    * GraphAccelSpec compares the two engines differentially (SURVEY §5). */
  def bfsAuto(
      edges: DataFrame,
      startNodes: Seq[String],
      maxDepth: Int,
      direction: Direction = Both,
      minConfidence: Option[Double] = None,
      relTypes: Option[Seq[String]] = None,
      accelThreshold: Long = DefaultAccelThreshold): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    probeAndLoad(edges, accelThreshold, graphs) match {
      case Some(g) => accelResultDF(spark,
        g.bfs(startNodes, maxDepth, direction, Set.empty, minConfidence, relTypes),
        "node", "distance", "parent")
      case None => bfs(edges, startNodes, maxDepth, direction, minConfidence, relTypes)
    }
  }

  /** Auto-dispatching shortest path (see [[bfsAuto]]). */
  def shortestPathAuto(
      edges: DataFrame,
      from: String,
      to: String,
      maxHops: Int = 6,
      direction: Direction = Both,
      minConfidence: Option[Double] = None,
      accelThreshold: Long = DefaultAccelThreshold): Option[(Int, Seq[String])] = {
    probeAndLoad(edges, accelThreshold, graphs) match {
      case Some(g) =>
        g.shortestPathExcluding(from, to, maxHops, direction, Set.empty, minConfidence)
      case None    => shortestPath(edges, from, to, maxHops, direction, minConfidence)
    }
  }

  /** Resident-structure cache keyed by the CANONICALIZED logical plan of
    * its input view — the analog of graph_accel's once-per-backend load
    * with a generation check (`graph_accel_status`/`load`/`invalidate`,
    * api/app/lib/graph_facade.py:50-58,1087-1153): consecutive calls over
    * the same view reuse the loaded structure instead of re-collecting
    * it. Canonicalized plans compare structurally (normalized expr ids;
    * LocalRelation keys include the data itself), so a hit requires the
    * identical source plan — and the immutable-version storage discipline
    * (SnapshotStore) means changed data always has a changed path, hence
    * a changed plan. In-place external rewrites are the one case that
    * needs an explicit [[invalidateAccel]], exactly like the reference's
    * `graph_accel_invalidate` after mutations. An LRU of up to
    * `maxLoaded` structures plus `maxOver` memoized over-threshold
    * verdicts; one instance per resident kind, each with its own `view`
    * of the input and its own `load`: Some((size, nodes, structure)) when
    * the view fits the threshold, None past it. */
  private[graph] final class AccelCache[G](maxLoaded: Int, maxOver: Int,
      val view: DataFrame => DataFrame,
      val load: (DataFrame, Long) => Option[(Long, Int, G)]) {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    // key -> (size, nodes, structure)
    private val loaded = mutable.LinkedHashMap.empty[LogicalPlan, (Long, Int, G)]
    private val over = mutable.LinkedHashMap.empty[LogicalPlan, Long]

    /** Some(result) on a conclusive cache hit (loaded structure, or known
      * to exceed `threshold`); None → caller must probe. */
    def get(key: LogicalPlan, threshold: Long): Option[Option[G]] =
      synchronized {
        loaded.remove(key) match {
          case Some(hit @ (n, _, g)) =>
            loaded.put(key, hit) // re-insert = LRU refresh
            if (n <= threshold) Some(Some(g)) else Some(None)
          case None =>
            over.get(key) match {
              case Some(probed) if probed >= threshold => Some(None)
              case _                                   => None
            }
        }
      }
    def putLoaded(key: LogicalPlan, n: Long, nodes: Int, g: G): Unit =
      synchronized {
        loaded.put(key, (n, nodes, g))
        while (loaded.size > maxLoaded) loaded.remove(loaded.head._1)
      }
    def putOver(key: LogicalPlan, probedThreshold: Long): Unit = synchronized {
      over.put(key, math.max(over.getOrElse(key, Long.MinValue), probedThreshold))
      while (over.size > maxOver) over.remove(over.head._1)
    }
    def clear(): Unit = synchronized { loaded.clear(); over.clear() }
    def stats: (Int, Long, Int) = synchronized {
      (loaded.size, loaded.valuesIterator.map(_._2.toLong).sum, over.size)
    }
  }

  /** An accelerator graph's load: the [[InternedEdges.view]] is
    * persisted, the probe is a cheap `limit(N+1).count()` (no driver
    * transfer), and only an under-threshold graph is interned — the cache
    * makes that load reuse the probed partitions instead of recomputing
    * the upstream plan. An over-threshold graph never ships rows to the
    * driver (the probe short-circuits after N+1 and the distributed
    * engine takes over). */
  private def graphLoad[G](weighted: Boolean, build: InternedEdges => G)(
      view: DataFrame, threshold: Long): Option[(Long, Int, G)] = {
    val cached = view.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cached.limit(threshold.toInt + 1).count()
      if (n > threshold) None
      else {
        // Large loads intern DISTRIBUTED (dictionary join + compact
        // array ship); the probe's n decides, so the extra jobs only run
        // when driver-side interning would dominate.
        val e = InternedEdges.load(cached, n, weighted)
        Some((n, e.names.length, build(e)))
      }
    } finally { cached.unpersist(); () }
  }

  /** Unweighted graphs, shared by every traversal, PageRank and components
    * dispatcher. One graph per edge view whatever the filters: the view
    * keeps rel types and confidences, and the traversals filter on them. */
  private val graphs = new AccelCache[InMemoryGraph](8, 32,
    InternedEdges.view(_, weighted = false), graphLoad(weighted = false, InMemoryGraph(_)))

  /** Weighted graphs, keyed by the (src, dst, w) view — the weight
    * EXPRESSION is part of the key, so differently-weighted calls over one
    * edge set never collide. Smaller bounds: each entry also carries a
    * double per edge. */
  private val weightedGraphs = new AccelCache[WeightedGraph](4, 16,
    InternedEdges.view(_, weighted = true), graphLoad(weighted = true, new WeightedGraph(_)))

  /** Resident concept tables, keyed by the `concepts` plan itself and
    * sized in bytes against [[conceptBudget]]. */
  private val conceptTables =
    new AccelCache[ConceptTable](4, 16, identity, ConceptTable.load)

  /** Resident concept cards, keyed by the card plan over the whole
    * snapshot and sized in bytes against [[conceptBudget]]. */
  private val cardTables = new AccelCache[CardTable](4, 16, identity, CardTable.load)

  /** The byte budget concept tables and concept cards load against,
    * [[ConceptTable.BudgetBytes]]. Specs lower it to send the facade down
    * its Spark path; nothing else writes it. */
  @volatile private[graft] var conceptBudget: Long = ConceptTable.BudgetBytes

  /** Evict every cached accelerator graph, concept table and card table
    * (graph_accel_invalidate analog). Needed only when INPUT FILES are
    * rewritten in place; versioned snapshot writes change paths and
    * therefore miss the cache naturally. */
  def invalidateAccel(): Unit = {
    graphs.clear(); weightedGraphs.clear(); conceptTables.clear(); cardTables.clear()
  }

  /** (loaded graphs, total resident nodes, memoized over-threshold
    * entries) — the graph_accel_status freshness/residency probe analog. */
  def accelStatus: (Int, Long, Int) = graphs.stats

  /** Probe and (if it fits) load the edge view into the accelerator cache
    * — the graph_accel_load analog. Idempotent: Some(graph) whenever the
    * view is resident AFTER the call (fresh load or cache hit), None when
    * it exceeds the threshold and the distributed engines own it. */
  def ensureLoaded(edges: DataFrame,
      accelThreshold: Long = DefaultAccelThreshold): Option[InMemoryGraph] =
    probeAndLoad(edges, accelThreshold, graphs)

  /** The resident concept table of `concepts`, loaded on first use in one
    * Spark job; None when the table has another shape than the facade
    * reads ([[ConceptTable.eligible]]) or exceeds the budget, and the
    * facade's Spark plans answer instead. */
  private[graft] def residentConcepts(concepts: DataFrame): Option[ConceptTable] =
    if (!ConceptTable.eligible(concepts.schema)) None
    else probeAndLoad(concepts, conceptBudget, conceptTables)

  /** The resident concept cards of the facade's card plan `cards` (every
    * concept's card), loaded on first use in one collect; None when they
    * exceed the budget, and the card's point lookup answers instead. */
  private[graft] def residentCards(cards: DataFrame): Option[CardTable] =
    probeAndLoad(cards, conceptBudget, cardTables)

  /** The one residency decision: a cache hit answers at once; a miss
    * loads the cache's view of `input` against the threshold and
    * memoizes the verdict either way. The threshold is capped below
    * Int.MaxValue (a graph probe's limit is an Int, and no resident
    * structure holds more entries than an array does) and floored at -1,
    * so a negative threshold sends every view to the distributed
    * engines. */
  private def probeAndLoad[G](input: DataFrame, accelThreshold: Long,
      cache: AccelCache[G]): Option[G] = {
    val threshold = math.max(-1L, math.min(accelThreshold, Int.MaxValue - 1L))
    val view = cache.view(input)
    val key = view.queryExecution.analyzed.canonicalized
    cache.get(key, threshold).getOrElse {
      cache.load(view, threshold) match {
        case Some((n, nodes, g)) => cache.putLoaded(key, n, nodes, g); Some(g)
        case None                => cache.putOver(key, threshold); None
      }
    }
  }

  /** Shortest path (reference T2): returns the hop count and the node
    * sequence from `from` to `to`, or None when unreachable within
    * `maxHops`. Path reconstruction walks parent pointers with one tiny
    * lookup join per hop (never collects the visited set).
    */
  def shortestPath(
      edges: DataFrame,
      from: String,
      to: String,
      maxHops: Int = 6,
      direction: Direction = Both,
      minConfidence: Option[Double] = None,
      relTypes: Option[Seq[String]] = None): Option[(Int, Seq[String])] = {
    val visited = bfs(edges, Seq(from), maxHops, direction, minConfidence, relTypes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val hit = visited.where(col("node") === to).collect()
      if (hit.isEmpty) None
      else {
        val hops = hit.head.getInt(1)
        var path = List(to)
        var cur: String = Option(hit.head.getString(2)).orNull
        while (cur != null) {
          path = cur :: path
          val row = visited.where(col("node") === cur).select("parent").collect()
          cur = if (row.isEmpty) null else row.head.getString(0)
        }
        Some((hops, path))
      }
    } finally { visited.unpersist(); () }
  }

  /** Auto-dispatching k-shortest paths: under the threshold the graph
    * loads into the accelerator ONCE and edge exclusion happens in memory;
    * above it each iteration runs the distributed loop. */
  def kShortestPathsAuto(
      edges: DataFrame,
      from: String,
      to: String,
      maxHops: Int = 6,
      maxPaths: Int = 5,
      direction: Direction = Both,
      accelThreshold: Long = DefaultAccelThreshold): Seq[(Int, Seq[String])] = {
    probeAndLoad(edges, accelThreshold, graphs) match {
      case Some(g) => g.kShortestPaths(from, to, maxHops, maxPaths, direction)
      case None    => kShortestPaths(edges, from, to, maxHops, maxPaths, direction)
    }
  }

  /** K-shortest paths via the reference's fallback contract — shortest path
    * plus edge-excluded alternatives (api/app/lib/graph_facade.py:396-411),
    * not full Yen's. Each iteration removes the previous path's edges
    * (`left_anti` against an exclusion list) and re-runs the distributed
    * T2. */
  def kShortestPaths(
      edges: DataFrame,
      from: String,
      to: String,
      maxHops: Int = 6,
      maxPaths: Int = 5,
      direction: Direction = Both): Seq[(Int, Seq[String])] = {
    val spark = edges.sparkSession
    import spark.implicits._
    kPathsByExclusion(maxPaths) { excluded =>
      val remaining = edges.join(broadcast(excluded.toSeq.toDF("xsrc", "xdst")),
        (col("src") === col("xsrc") && col("dst") === col("xdst")) ||
          (col("src") === col("xdst") && col("dst") === col("xsrc")),
        "left_anti")
      shortestPath(remaining, from, to, maxHops, direction)
    }
  }

  /** The edge-exclusion loop both engines' k-paths share: take the
    * shortest path avoiding `excluded` (undirected node pairs), add its
    * edges to the exclusions, and repeat until `maxPaths` paths, no path,
    * or a repeated path. */
  private[graph] def kPathsByExclusion(maxPaths: Int)(
      shortest: Set[(String, String)] => Option[(Int, Seq[String])])
      : Seq[(Int, Seq[String])] = {
    var results = Vector.empty[(Int, Seq[String])]
    var excluded = Set.empty[(String, String)]
    var continue = true
    while (continue && results.size < maxPaths) {
      shortest(excluded) match {
        case Some(p @ (_, nodes)) if !results.contains(p) =>
          results :+= p
          excluded ++= nodes.sliding(2).collect { case Seq(a, b) => (a, b) }
        case _ => continue = false
      }
    }
    results
  }

  /** Degree centrality (reference T4): one shuffle per side, partial
    * aggregation map-side; `(node, out_degree, in_degree, total_degree)`. */
  def degrees(edges: DataFrame): DataFrame =
    // Both endpoints explode from ONE scan (a groupBy(src) ∪ groupBy(dst)
    // union would evaluate the upstream plan twice), then a single
    // partial-aggregated shuffle on node — no join needed.
    edges
      .select(explode(array(
        struct(col("src").as("node"), lit(1L).as("o"), lit(0L).as("i")),
        struct(col("dst").as("node"), lit(0L).as("o"), lit(1L).as("i")))).as("e"))
      .groupBy(col("e.node").as("node"))
      .agg(sum(col("e.o")).as("out_degree"), sum(col("e.i")).as("in_degree"))
      .withColumn("total_degree", col("out_degree") + col("in_degree"))

  /** PageRank over the directed edge view, GraphX's convention:
    * r₀ = 1, rᵢ₊₁ = (1−d) + d·Σ_incoming r_src/outdeg_src, dangling mass
    * dropped (no renormalization) — so results are comparable to
    * `graphx.lib.PageRank.run` with resetProb 1−d (GraphXOpsSpec holds the
    * two within tolerance).
    *
    * Deterministic by construction, unlike message-passing PageRank whose
    * incoming-sum order varies with partitioning: each iteration's
    * contributions are cast to DECIMAL(28,12) before the per-node sum, and
    * fixed-point addition is exact and order-independent, so two runs (or
    * two engines — the q68 oracle replays these iterations in SQL) agree
    * bit-for-bit. Per iteration: one join keyed by src (co-locates with
    * bucketing at scale), one partially-aggregated shuffle on dst, one
    * lineage-cutting eager checkpoint. */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      damping: Double = 0.85, reset: Double = 0.15,
      checkpointEvery: Int = 1): DataFrame = {
    // Null-endpoint edges are dropped EXPLICITLY: the contribution join
    // would drop a null src silently anyway, but a null dst would
    // otherwise survive into the node set as a phantom — and the accel
    // path (which drops both at load) must agree with this loop exactly.
    val e = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint(true) // reused every iteration + outdeg + node set
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .localCheckpoint(true) // referenced by every iteration's join
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    var ranks = nodes.withColumn("r", lit(1.0))
    for (i <- 1 to iterations) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"),
          (col("r") / col("od")).cast("decimal(28,12)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      // reset is its OWN literal, not 1 − damping: IEEE (1.0 − 0.85) is a
      // different double than the parsed literal 0.15 the SQL oracle uses.
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(reset) + lit(damping) *
            coalesce(col("s").cast("double"), lit(0.0))).as("r"))
      // Lineage grows by (join + agg + join) per round: truncate EVERY
      // round by default. MEASURED (r17, sf10 8.5M edges, dual runs): the
      // r16 every-5 cadence — which never fires at q68's 3 iterations —
      // ran 1.70-1.93 s vs 1.35-1.56 s with per-round truncation; the
      // materialized per-round blocks give AQE exact sizes for the next
      // round's join strategy, which outweighs the extra job scheduling.
      // (This reverses r16's untested "short runs shouldn't pay the job
      // overhead" guess — exactly the q68 regression VERDICT r16 flagged.)
      if (i % math.max(checkpointEvery, 1) == 0 && i < iterations)
        ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Single-source weighted shortest distances by bounded Bellman-Ford —
    * the weighted complement of the hop-count [[shortestPath]] (the
    * reference's T2 is hops-only; edge weights are the natural extension
    * once edges carry confidence/cost). Input: (src, dst, w) — pass a
    * doubled view for undirected semantics, exactly like the BFS callers.
    * Per iteration: one join keyed by src + one min-aggregation — min over
    * IEEE doubles is exact and order-independent, and each candidate
    * distance is the same left-to-right sum along its path in any engine,
    * so results are deterministic and SQL-oracle-replayable with no
    * decimal staging. `maxHops` bounds both cost and semantics (distances
    * using at most that many edges), as in the reference's bounded
    * traversals. */
  def weightedShortestPaths(edges: DataFrame, source: String,
      maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"), col("w").cast("double"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint(true) // scanned once per relaxation round
    var dist = Seq((source, 0.0)).toDF("node", "dist")
    for (i <- 1 to maxHops) {
      val relaxed = e
        .join(dist.select(col("node").as("src"), col("dist").as("sd")), "src")
        .select(col("dst").as("node"), (col("sd") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      if (i % 2 == 0 && i < maxHops) dist = dist.localCheckpoint(true)
    }
    dist
  }

  /** Auto-dispatched weighted shortest distances: below the edge threshold
    * the weighted edge list loads ONCE per canonicalized view plan into a
    * [[WeightedGraph]] (interned nodes, parallel primitive arrays) and the
    * SAME Jacobi relaxation runs on the driver — each candidate distance
    * is the identical left-to-right double sum along its path and min is
    * exact, so the two paths are bit-identical by construction (strict-==
    * differential in GraphOpsSpec). The r10 cut collected and re-interned
    * the edge list on EVERY call (weights were assumed per-call-variable);
    * caching on the full (src, dst, w) plan keys the weights too, and at
    * audit scale the difference is the whole cost (sf10's doubled 17M-row
    * view: ~20 s ship + intern per call vs ~0.3 s relaxation). The
    * over-threshold path never ships a row to the driver (the probe's
    * limit(N+1).count() short-circuits). */
  def weightedShortestPathsAuto(edges: DataFrame, source: String,
      maxHops: Int, accelThreshold: Long = DefaultAccelThreshold): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    probeAndLoad(edges, accelThreshold, weightedGraphs) match {
      case Some(g) => accelResultDF(spark, g.relax(source, maxHops), "node", "dist")
      // the same null-dropping view the accelerator loads, so both sides
      // of the threshold drop null-weight edges identically
      case None    => weightedShortestPaths(
        InternedEdges.view(edges, weighted = true), source, maxHops)
    }
  }

  /** Auto-dispatched PageRank: the driver-side accelerator below the edge
    * threshold (no per-iteration Spark jobs — and [[InMemoryGraph.pageRank]]
    * replays the decimal-staged arithmetic exactly, so the two paths are
    * bit-identical), the distributed iteration above it. Shares the
    * plan-keyed AccelCache with the traversal dispatchers, so a session
    * running degree + BFS + PageRank over one edge view loads the graph
    * once. */
  def pageRankAuto(edges: DataFrame, iterations: Int = 3,
      damping: Double = 0.85, reset: Double = 0.15,
      accelThreshold: Long = DefaultAccelThreshold): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the cache's own view of the edges, as every traversal dispatcher
    // probes with it, so they share one resident graph
    probeAndLoad(edges, accelThreshold, graphs) match {
      case Some(g) =>
        accelPairsDF(spark, g.names,
          g.pageRankRanks(iterations, damping, reset), "node", "r")
      case None    =>
        // the accel's load view, so both dispatch paths return the same
        // node column type whatever the input id type
        pageRank(InternedEdges.view(edges, weighted = false),
          iterations, damping, reset)
    }
  }

  /** Edge-induced subgraph (reference T5/J8): edges whose BOTH endpoints are
    * within `maxDepth` of `start` — the double semi-join form. */
  def inducedSubgraph(
      edges: DataFrame,
      start: String,
      maxDepth: Int,
      direction: Direction = Both,
      minConfidence: Option[Double] = None): DataFrame = {
    val nodes = bfsAuto(edges, Seq(start), maxDepth, direction, minConfidence)
      .select("node")
    edges
      .join(broadcast(nodes.withColumnRenamed("node", "src")), Seq("src"), "left_semi")
      .join(broadcast(nodes.withColumnRenamed("node", "dst")), Seq("dst"), "left_semi")
      .select(edges.columns.map(col).toIndexedSeq: _*) // joins reorder key cols
  }

  /** Per-node triangle participation counts over the undirected simple
    * graph induced by (src, dst). The standard distributed-triangle plan:
    * canonicalize each edge to u<v and dedupe (so every triangle
    * {a<b<c} exists exactly once as the oriented wedge a→b→c closed by
    * a→c), join wedges ab⋈bc on the middle vertex, close with ac — every
    * join a plain equi-join that scales by shuffle on node id, the wedge
    * fan-out bounded by per-node degree (skew = high-degree hubs; AQE
    * skew-join splits those). Corners explode to (node, 1) and sum.
    * Nodes in no triangle are absent (count 0). Cross-validated against
    * GraphX's TriangleCount in GraphXOpsSpec; exercised by q71. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsCanonical(canonicalUndirected(edges))

  /** The simple undirected edge set as canonical (u < v) pairs: self-loops
    * dropped, duplicates and reversed copies collapsed. The shared
    * front-end of [[triangleCounts]] — callers that also need degrees on
    * the same simple graph canonicalize once and pass the result to
    * [[triangleCountsCanonical]]. */
  def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** [[triangleCounts]] over edges ALREADY in canonical (u < v, distinct)
    * form — skips the dedup shuffle the canonical front-end would repeat. */
  def triangleCountsCanonical(e: DataFrame): DataFrame = {
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.v") === col("bc.u"))
      .join(e.as("ac"), col("ab.u") === col("ac.u") && col("bc.v") === col("ac.v"))
      .select(col("ab.u").as("x"), col("ab.v").as("y"), col("bc.v").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }
}
