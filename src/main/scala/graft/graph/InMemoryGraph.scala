package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{array, col, explode}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
import scala.collection.mutable

/** Driver-side in-memory traversal accelerator — the Spark re-expression of
  * the reference's `graph_accel` Rust extension (graph-accel/core/src/
  * graph.rs:77-140: interned adjacency lists loaded once per backend,
  * sub-ms BFS; 22 ms load of 2 159 edges, benchmark-findings.md:122).
  *
  * Role at scale: interactive traversal on a graph that fits on the driver
  * (the reference's whole graph was 312 KB) should not pay per-hop Spark
  * job scheduling. [[GraphOps.bfsAuto]] dispatches here when the edge count
  * is under a threshold and to the distributed iterative-join BFS above it
  * — mirroring the reference's accel-with-Cypher-fallback split
  * (api/app/lib/graph_facade.py:186-310), with the differential test
  * between the two engines as the correctness contract (SURVEY §5).
  *
  * Node ids are interned to dense ints; adjacency is two int-array CSRs
  * (out and in). When the loaded view carries rel types or confidences,
  * each CSR slot also names its edge, whose interned rel type and
  * confidence the traversals filter on as they go — so every
  * `relTypes`/`minConfidence` subset shares the one resident graph, as in
  * graph_accel (graph.rs:77-86, traversal.rs:93-104). NULL confidence
  * passes filters (F5 sentinel).
  */
final class InMemoryGraph private (
    val names: Array[String],
    idOf: java.util.HashMap[String, Integer],
    outAdj: Array[Array[Int]],
    inAdj: Array[Array[Int]],
    outEdge: Array[Array[Int]],
    inEdge: Array[Array[Int]],
    rels: Array[String],
    rel: Array[Int],
    conf: Array[Double]) {

  def size: Int = names.length

  /** The edge test for a traversal's filters, with Spark's semantics on
    * the distributed side ([[GraphOps.oriented]]): a rel type passes when
    * it is in `relTypes` (a NULL type never does), a confidence when it is
    * NULL (NaN here) or `>= t` — Spark orders NaN greatest, so a NaN
    * confidence passes there too, and IEEE `>=` agrees with Spark's
    * comparison on every other pair. A filter on a column the view does
    * not carry is no filter, as in `oriented`: a missing confidence is all
    * NULL, a missing rel type is ignored. None when every edge passes. */
  private def edgeFilter(minConfidence: Option[Double],
      relTypes: Option[Seq[String]]): Option[Int => Boolean] = {
    val allowed = relTypes.filter(_ => rel.nonEmpty)
      .map { ts => val keep = ts.toSet; rels.map(keep.contains) }.orNull
    val confOn = minConfidence.isDefined && conf.nonEmpty
    val t = minConfidence.getOrElse(0.0)
    if (allowed == null && !confOn) None
    else Some { e =>
      (allowed == null || (rel(e) >= 0 && allowed(rel(e)))) &&
        (!confOn || java.lang.Double.isNaN(conf(e)) || conf(e) >= t)
    }
  }

  /** PageRank matching [[GraphOps.pageRank]] BIT-FOR-BIT — the accel twin
    * behind [[GraphOps.pageRankAuto]]. The distributed loop owes its
    * determinism to staging each contribution through DECIMAL(28,12)
    * before the per-node sum; this replays the identical arithmetic on the
    * driver: `BigDecimal.valueOf(r/od)` (Spark's double→Decimal cast goes
    * through the shortest decimal representation, i.e. `valueOf`) rounded
    * HALF_UP to scale 12, summed exactly, `.doubleValue` back (nearest
    * double, same as Spark's Decimal→double), then the same
    * `reset + damping * s` chain. GraphXOpsSpec asserts strict equality
    * with the DataFrame loop on random graphs. */
  def pageRank(iterations: Int, damping: Double = 0.85,
      reset: Double = 0.15): Seq[(String, Double)] = {
    val r = pageRankRanks(iterations, damping, reset)
    names.indices.map(i => (names(i), r(i)))
  }

  /** [[pageRank]] returning the rank array aligned with [[names]] — the
    * allocation-free shape [[GraphOps.pageRankAuto]] ships through the
    * chunked-array result path (2M boxed tuples through a LocalRelation
    * or parallelize cost multiple seconds PER ACTION at sf10; two
    * primitive-backed arrays ship once per partition). */
  def pageRankRanks(iterations: Int, damping: Double = 0.85,
      reset: Double = 0.15): Array[Double] = {
    val n = size
    val ranks = Array.fill(n)(1.0)
    // Per-edge accumulation rides a LONG of scale-12 unscaled units, not a
    // BigDecimal: adding exact scale-12 decimals IS adding their unscaled
    // longs, so the sum is bit-identical while the inner loop drops from
    // ~25M BigDecimal.add calls to long adds at sf10 (measured the
    // BigDecimal loop at multiple seconds per run). The per-SOURCE
    // contribution still goes through BigDecimal.valueOf().setScale(12,
    // HALF_UP) — that is the part that defines the arithmetic contract
    // with the distributed loop's DECIMAL(28,12) staging. A contribution
    // whose scale-12 unscaled value exceeds a long (rank/od ≥ ~9.2e6 —
    // impossible for PageRank's ≤n total mass at any graph this driver
    // can hold) or an addExact overflow falls back to the BigDecimal path
    // for that round, preserving exactness unconditionally.
    for (_ <- 1 to iterations) {
      val sums = new Array[Long](n)
      val hit = new Array[Boolean](n)
      var overflow = false
      var v = 0
      while (v < n && !overflow) {
        val od = outAdj(v).length
        if (od > 0) {
          val c = java.math.BigDecimal.valueOf(ranks(v) / od)
            .setScale(12, java.math.RoundingMode.HALF_UP)
          if (c.unscaledValue.bitLength >= 63) overflow = true
          else {
            val cu = c.unscaledValue.longValueExact
            val out = outAdj(v)
            var k = 0
            while (k < out.length && !overflow) {
              val d = out(k)
              try {
                sums(d) = Math.addExact(sums(d), cu)
                hit(d) = true
              } catch { case _: ArithmeticException => overflow = true }
              k += 1
            }
          }
        }
        v += 1
      }
      if (overflow) {
        // exact fallback: replay the round entirely in BigDecimal
        val bsums = new Array[java.math.BigDecimal](n)
        var u = 0
        while (u < n) {
          val od = outAdj(u).length
          if (od > 0) {
            val c = java.math.BigDecimal.valueOf(ranks(u) / od)
              .setScale(12, java.math.RoundingMode.HALF_UP)
            val out = outAdj(u)
            var k = 0
            while (k < out.length) {
              val d = out(k)
              bsums(d) = if (bsums(d) == null) c else bsums(d).add(c)
              k += 1
            }
          }
          u += 1
        }
        var w = 0
        while (w < n) {
          val s = if (bsums(w) == null) 0.0 else bsums(w).doubleValue
          ranks(w) = reset + damping * s
          w += 1
        }
      } else {
        var w = 0
        while (w < n) {
          val s =
            if (!hit(w)) 0.0
            else java.math.BigDecimal.valueOf(sums(w), 12).doubleValue
          ranks(w) = reset + damping * s
          w += 1
        }
      }
    }
    ranks
  }

  /** Connected components by union-find (path compression + union by
    * size); component id = minimum member name, matching the GraphX
    * backend's canonicalization. */
  def connectedComponents(): Seq[(String, String)] = {
    val (ns, cs) = connectedComponentsArrays()
    ns.indices.map(i => (ns(i), cs(i)))
  }

  /** [[connectedComponents]] as two parallel arrays aligned with
    * [[names]] — the shape [[GraphXOps.connectedComponentsAuto]] ships via
    * the chunked-array result path (see [[pageRankRanks]]). */
  def connectedComponentsArrays(): (Array[String], Array[String]) = {
    val parent = Array.tabulate(size)(identity)
    val rank = new Array[Int](size)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
    }
    var v = 0
    while (v < size) {
      outAdj(v).foreach(w => union(v, w))
      v += 1
    }
    val minName = mutable.HashMap.empty[Int, String]
    (0 until size).foreach { x =>
      val r = find(x)
      val cur = minName.get(r)
      if (cur.isEmpty || names(x) < cur.get) minName(r) = names(x)
    }
    val comps = new Array[String](size)
    var x = 0
    while (x < size) { comps(x) = minName(find(x)); x += 1 }
    (names.clone(), comps)
  }

  /** K-shortest paths by edge-exclusion (the reference's fallback contract,
    * graph_facade.py:396-411), entirely in memory: the graph loads once and
    * each iteration re-runs BFS against the growing exclusion set. */
  def kShortestPaths(from: String, to: String, maxHops: Int, maxPaths: Int,
      direction: GraphOps.Direction = GraphOps.Both): Seq[(Int, Seq[String])] =
    GraphOps.kPathsByExclusion(maxPaths)(
      shortestPathExcluding(from, to, maxHops, direction, _))

  /** Shortest path with hydrated node sequence, avoiding the listed
    * (undirected) node pairs and the edges `minConfidence` drops; pass no
    * exclusions for the plain path. */
  def shortestPathExcluding(from: String, to: String, maxHops: Int,
      direction: GraphOps.Direction,
      excluded: Set[(String, String)],
      minConfidence: Option[Double] = None): Option[(Int, Seq[String])] = {
    val res = bfs(Seq(from), maxHops, direction, excluded, minConfidence)
    val byName = res.map(t => t._1 -> t).toMap
    byName.get(to).map { case (_, hops, _) =>
      var path = List(to)
      var cur = byName(to)._3
      while (cur != null) { path = cur :: path; cur = byName(cur)._3 }
      (hops, path)
    }
  }

  /** BFS with min-distance semantics; returns (node, distance, parent).
    * `excludedEdges` drops the listed (undirected) node pairs;
    * `minConfidence` and `relTypes` drop edges as [[GraphOps.bfs]] does.
    *
    * Dense int-array state (dist/parent indexed by interned id, no hashing
    * in the hop loop) — the same flat-adjacency discipline that gives the
    * reference's Rust core its sub-ms traversals (graph.rs:77-140). */
  def bfs(start: Seq[String], maxDepth: Int,
      direction: GraphOps.Direction = GraphOps.Both,
      excludedEdges: Set[(String, String)] = Set.empty,
      minConfidence: Option[Double] = None,
      relTypes: Option[Seq[String]] = None): Seq[(String, Int, String)] = {
    val dist = new Array[Int](size); java.util.Arrays.fill(dist, -1)
    val parent = new Array[Int](size); java.util.Arrays.fill(parent, -1)
    var frontier = start.flatMap(s => Option(idOf.get(s)).map(_.intValue())).distinct
    frontier.foreach(v => dist(v) = 0)
    // Missing start nodes still appear at distance 0 (reference contract)
    val ghosts = start.filter(s => !idOf.containsKey(s)).map(s => (s, 0, null: String))
    val blocked: Set[(Int, Int)] = excludedEdges.flatMap { case (a, b) =>
      (Option(idOf.get(a)), Option(idOf.get(b))) match {
        case (Some(x), Some(y)) =>
          Seq((x.intValue(), y.intValue()), (y.intValue(), x.intValue()))
        case _ => Seq.empty
      }
    }
    val checkBlocked = blocked.nonEmpty
    val keep = edgeFilter(minConfidence, relTypes).orNull
    var depth = 0
    while (frontier.nonEmpty && depth < maxDepth) {
      depth += 1
      val next = mutable.ArrayBuffer[Int]()
      def visit(v: Int, adj: Array[Array[Int]], edge: Array[Array[Int]]): Unit = {
        val ws = adj(v)
        var k = 0
        while (k < ws.length) {
          val w = ws(k)
          if ((keep == null || keep(edge(v)(k))) &&
              (!checkBlocked || !blocked.contains((v, w)))) {
            if (dist(w) < 0) {
              dist(w) = depth
              parent(w) = v
              next += w
            } else if (dist(w) == depth && parent(w) >= 0 &&
              names(v) < names(parent(w))) {
              parent(w) = v // deterministic min-parent, matching GraphOps
            }
          }
          k += 1
        }
      }
      frontier.foreach { v =>
        if (direction != GraphOps.Incoming) visit(v, outAdj, outEdge)
        if (direction != GraphOps.Outgoing) visit(v, inAdj, inEdge)
      }
      frontier = next.distinct.toSeq
    }
    val buf = mutable.ArrayBuffer[(String, Int, String)]()
    var i = 0
    while (i < size) {
      if (dist(i) >= 0) {
        val p = if (parent(i) >= 0) names(parent(i)) else null
        buf += ((names(i), dist(i), p))
      }
      i += 1
    }
    (buf ++ ghosts).toSeq
  }
}

object InMemoryGraph {

  /** Bulk-load from an (already filtered) oriented edge DataFrame with
    * `src`/`dst` columns — one collect, the analog of the accel's SPI bulk
    * load. */
  def load(edges: DataFrame): InMemoryGraph = {
    val view = InternedEdges.view(edges, weighted = false)
    apply(InternedEdges.fromRows(view.collect(), view.columns.toSeq))
  }

  /** [[load]] with the interning done as a DISTRIBUTED dictionary join —
    * the large-graph load path (see [[InternedEdges.distributed]]). */
  def loadDistributed(edges: DataFrame): InMemoryGraph =
    apply(InternedEdges.distributed(edges, weighted = false))

  /** The out/in CSR adjacency over an interned edge list, each slot
    * naming its edge when the list carries rel types or confidences. */
  private[graph] def apply(e: InternedEdges): InMemoryGraph = {
    val n = e.names.length
    val attributed = e.rel.nonEmpty || e.conf.nonEmpty
    val outCount = new Array[Int](n)
    val inCount = new Array[Int](n)
    e.src.foreach(outCount(_) += 1)
    e.dst.foreach(inCount(_) += 1)
    val outAdj = Array.tabulate(n)(v => new Array[Int](outCount(v)))
    val inAdj = Array.tabulate(n)(v => new Array[Int](inCount(v)))
    val outEdge = if (attributed) Array.tabulate(n)(v => new Array[Int](outCount(v))) else null
    val inEdge = if (attributed) Array.tabulate(n)(v => new Array[Int](inCount(v))) else null
    val outPos = new Array[Int](n)
    val inPos = new Array[Int](n)
    var i = 0
    while (i < e.src.length) {
      val s = e.src(i); val d = e.dst(i)
      outAdj(s)(outPos(s)) = d
      inAdj(d)(inPos(d)) = s
      if (attributed) { outEdge(s)(outPos(s)) = i; inEdge(d)(inPos(d)) = i }
      outPos(s) += 1; inPos(d) += 1
      i += 1
    }
    new InMemoryGraph(e.names, e.idOf, outAdj, inAdj, outEdge, inEdge, e.rels, e.rel, e.conf)
  }
}

/** An interned edge list — node names to dense ints plus parallel
  * (src, dst[, w]) arrays, `w` empty when unweighted — and, for an
  * unweighted view with those columns, each edge's interned rel type and
  * confidence, as graph_accel keeps them beside its adjacency
  * (graph-accel/core/src/graph.rs:77-86): `rel` holds an index into
  * `rels` (-1 for a NULL type) and `conf` the confidence (NaN for NULL,
  * the Rust core's sentinel). Each attribute array is empty when the view
  * has no such column. The one front end both accelerator graphs
  * ([[InMemoryGraph]], [[WeightedGraph]]) build from, on the driver
  * ([[fromRows]]) or distributed ([[distributed]]). */
private[graph] final class InternedEdges(
    val names: Array[String],
    val idOf: java.util.HashMap[String, Integer],
    val src: Array[Int], val dst: Array[Int], val w: Array[Double],
    val rels: Array[String], val rel: Array[Int], val conf: Array[Double])

private[graph] object InternedEdges {

  /** Edge count above which [[load]] interns DISTRIBUTED instead of on the
    * driver: below it the two dictionary-join jobs cost more than they
    * parallelize away. */
  val DistributedLoadThreshold: Long = 1000000L

  /** The (src, dst, w) view of a weighted graph, or the (src, dst
    * [, rel_type][, confidence]) view of an unweighted one — the rel type
    * and confidence columns when `edges` has them, so one resident graph
    * answers every rel-type and confidence filter. Every size probe and
    * load reads it: ids and rel types cast to string, weight and
    * confidence to double, rows with a null endpoint (or a null weight)
    * dropped. The distributed engines drop a null endpoint at their
    * equi-joins and a null weight by null propagation, so the accelerator
    * must drop them too or the two dispatch paths diverge on the same
    * input (a null endpoint would intern as a phantom node, and a null
    * weight could not read as "no edge"). */
  def view(edges: DataFrame, weighted: Boolean): DataFrame = {
    val ends = Seq(col("src").cast("string"), col("dst").cast("string"))
    val kept = col("src").isNotNull && col("dst").isNotNull
    if (weighted)
      edges.select((ends :+ col("w").cast("double")): _*)
        .where(kept && col("w").isNotNull)
    else {
      val attrs = Seq("rel_type" -> "string", "confidence" -> "double").collect {
        case (c, t) if edges.columns.contains(c) => col(c).cast(t).as(c)
      }
      edges.select((ends ++ attrs): _*).where(kept)
    }
  }

  /** Intern a [[view]] of `n` edges: on the driver below
    * [[DistributedLoadThreshold]], distributed above it. */
  def load(view: DataFrame, n: Long, weighted: Boolean): InternedEdges =
    if (n > DistributedLoadThreshold) distributed(view, weighted)
    else fromRows(view.collect(), view.columns.toSeq)

  /** Intern already-collected rows of a [[view]] whose columns are
    * `cols` on the driver; rows with a null endpoint are dropped (see
    * [[view]]). */
  def fromRows(allRows: Array[Row], cols: Seq[String]): InternedEdges = {
    val rows = allRows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val idOf = new java.util.HashMap[String, Integer]()
    val names = mutable.ArrayBuffer[String]()
    def intern(s: String): Int = {
      val existing = idOf.get(s)
      if (existing != null) existing.intValue()
      else { val id = names.length; idOf.put(s, id); names += s; id }
    }
    val wAt = cols.indexOf("w")
    val relAt = cols.indexOf("rel_type")
    val confAt = cols.indexOf("confidence")
    val srcs = new Array[Int](rows.length)
    val dsts = new Array[Int](rows.length)
    val ws = new Array[Double](if (wAt >= 0) rows.length else 0)
    val rels = new RelInterner
    val rel = new Array[Int](if (relAt >= 0) rows.length else 0)
    val conf = new Array[Double](if (confAt >= 0) rows.length else 0)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      srcs(i) = intern(r.getString(0))
      dsts(i) = intern(r.getString(1))
      if (wAt >= 0) ws(i) = r.getDouble(wAt)
      if (relAt >= 0) rel(i) = rels(r.getString(relAt))
      if (confAt >= 0) conf(i) = if (r.isNullAt(confAt)) Double.NaN else r.getDouble(confAt)
      i += 1
    }
    new InternedEdges(names.toArray, idOf, srcs, dsts, ws, rels.names, rel, conf)
  }

  /** Rel-type names to dense ids in first-seen order; NULL is -1. */
  private final class RelInterner {
    private val idOf = mutable.HashMap.empty[String, Int]
    private val seen = mutable.ArrayBuffer.empty[String]
    def apply(t: String): Int =
      if (t == null) -1 else idOf.getOrElseUpdate(t, { seen += t; seen.length - 1 })
    def names: Array[String] = seen.toArray
  }

  /** Intern as a DISTRIBUTED dictionary join — the large-graph load path.
    * Driver-side [[fromRows]] pays an O(2·E) String-keyed HashMap intern
    * plus per-row String allocation, single-threaded (~15 s at sf10's
    * 17M-row doubled view — more than the traversal it feeds); here the
    * node dictionary (distinct name → dense id via zipWithIndex) and both
    * endpoint lookups run as plain shuffles, and the driver receives
    * COMPACT int (and double) arrays plus the 1-row-per-node dictionary.
    * Rel types map to ids inside the tasks through the (small) distinct
    * rel-type list, so they ship as ints too. Same graph by construction:
    * [[view]] drops null fields exactly like fromRows' filter, parallel
    * edges survive as join duplicates, and edge/array order is
    * semantically irrelevant (BFS parents tie-break on min NAME,
    * components are order-free union-find, PageRank sums exact decimals,
    * weighted relaxation takes an exact min, rel-type ids are only
    * compared with the ids of the same graph) — pinned by the
    * GraphAccelSpec differential, which runs both paths. */
  def distributed(edges: DataFrame, weighted: Boolean): InternedEdges = {
    val spark = edges.sparkSession
    val e = view(edges, weighted)
    // the view's columns past (src, dst): w, or rel_type and confidence
    val Seq(wAt, relAt, confAt) = Seq("w", "rel_type", "confidence").map(e.columns.indexOf(_))
    val rels: Array[String] =
      if (relAt < 0) Array.empty
      else e.where(col("rel_type").isNotNull).select("rel_type").distinct()
        .collect().map(_.getString(0))
    val relId = rels.zipWithIndex.toMap
    val dict = e.select(explode(array(col("src"), col("dst"))).as("n"))
      .distinct()
      .rdd.map(_.getString(0)).zipWithIndex()
      .map { case (n, i) => Row(n, i.toInt) }
    val dictDF = spark.createDataFrame(dict, StructType(Seq(
        StructField("n", StringType, nullable = false),
        StructField("id", IntegerType, nullable = false))))
      .localCheckpoint(true) // read 3×: both joins + the names collect
    // Ship COMPACT per-partition arrays, not rows: collect() of 8.5M
    // two-int Rows costs as much as the string interning it replaces
    // (measured ~12 s either way at sf10) — per-row deserialization is
    // the real bottleneck. A handful of primitive-array blocks
    // deserializes in O(bytes).
    val edgeParts: Array[EdgeBlock] = e
      .join(dictDF.toDF("src", "__sid"), "src")
      .join(dictDF.toDF("dst", "__did"), "dst")
      .select((Seq(col("__sid"), col("__did")) ++ e.columns.drop(2).map(col)): _*)
      .rdd.mapPartitions { it =>
        val sb = new mutable.ArrayBuilder.ofInt
        val db = new mutable.ArrayBuilder.ofInt
        val wb = new mutable.ArrayBuilder.ofDouble
        val rb = new mutable.ArrayBuilder.ofInt
        val cb = new mutable.ArrayBuilder.ofDouble
        it.foreach { r =>
          sb += r.getInt(0); db += r.getInt(1)
          if (wAt >= 0) wb += r.getDouble(wAt)
          if (relAt >= 0) rb += (if (r.isNullAt(relAt)) -1 else relId(r.getString(relAt)))
          if (confAt >= 0) cb += (if (r.isNullAt(confAt)) Double.NaN else r.getDouble(confAt))
        }
        Iterator(EdgeBlock(sb.result(), db.result(), wb.result(), rb.result(), cb.result()))
      }.collect()
    val nameParts: Array[(Array[Int], Array[String])] = dictDF
      .rdd.mapPartitions { it =>
        val ib = new mutable.ArrayBuilder.ofInt
        val nb = mutable.ArrayBuffer.empty[String]
        it.foreach { r => nb += r.getString(0); ib += r.getInt(1) }
        Iterator((ib.result(), nb.toArray))
      }.collect()
    val n = nameParts.iterator.map(_._1.length).sum
    val names = new Array[String](n)
    val idOf = new java.util.HashMap[String, Integer]()
    nameParts.foreach { case (ids, ns) =>
      var j = 0
      while (j < ids.length) {
        names(ids(j)) = ns(j); idOf.put(ns(j), ids(j)); j += 1
      }
    }
    def cat[T: scala.reflect.ClassTag](f: EdgeBlock => Array[T]): Array[T] =
      Array.concat(edgeParts.map(f).toIndexedSeq: _*)
    new InternedEdges(names, idOf, cat(_.src), cat(_.dst), cat(_.w),
      rels, cat(_.rel), cat(_.conf))
  }

  /** One partition's edges as parallel primitive arrays. */
  private final case class EdgeBlock(src: Array[Int], dst: Array[Int],
      w: Array[Double], rel: Array[Int], conf: Array[Double])
}

/** Weighted accel twin of [[InMemoryGraph]] — interned nodes, parallel
  * (src, dst, w) edge arrays — behind [[GraphOps.weightedShortestPathsAuto]].
  * Loaded once per canonicalized edge-view plan (weights are PART of the
  * plan, so a different weight expression is a different cache entry) and
  * reused across calls: the load's collect + intern of the edge list is
  * the dominant cost at audit scale (sf10's 17M-row doubled view measured
  * ~20 s to ship + intern vs ~0.3 s for the relaxation itself). */
final class WeightedGraph private[graph] (edges: InternedEdges) {

  def names: Array[String] = edges.names

  /** Bounded-Jacobi relaxation, bit-identical to the distributed loop in
    * [[GraphOps.weightedShortestPaths]]: every candidate distance is the
    * same left-to-right double sum along its path, candidates are drawn
    * from the PREVIOUS round's snapshot, and same-round updates accumulate
    * min in edge order — min over IEEE doubles is exact, so the strict-==
    * differential in GraphOpsSpec holds by construction. */
  def relax(source: String, maxHops: Int): Seq[(String, Double)] = {
    val sid = edges.idOf.get(source)
    if (sid == null) return Seq((source, 0.0))
    val (src, dst, w) = (edges.src, edges.dst, edges.w)
    val Inf = Double.PositiveInfinity
    val n = names.length
    var dist = Array.fill(n)(Inf)
    dist(sid.intValue) = 0.0
    for (_ <- 1 to maxHops) {
      val next = dist.clone()
      var j = 0
      while (j < src.length) {
        val sd = dist(src(j))
        if (sd != Inf) {
          val cand = sd + w(j)
          if (cand < next(dst(j))) next(dst(j)) = cand
        }
        j += 1
      }
      dist = next
    }
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    var k = 0
    while (k < n) { if (dist(k) != Inf) out += ((names(k), dist(k))); k += 1 }
    out.toSeq
  }
}

object WeightedGraph {

  /** Distributed-interning load for large weighted views (see
    * [[InternedEdges.distributed]]). */
  def loadDistributed(edges: DataFrame): WeightedGraph =
    new WeightedGraph(InternedEdges.distributed(edges, weighted = true))

  /** Build from already-collected (src: String, dst: String, w: Double)
    * rows; rows with a null endpoint are dropped. */
  def fromRows(rows: Array[Row]): WeightedGraph =
    new WeightedGraph(InternedEdges.fromRows(rows, Seq("src", "dst", "w")))
}

/** The driver-resident concept table — the read side of the reference's
  * facade, which answers search and neighbourhood hydration from its
  * resident accelerator rather than from a query plan per call
  * (graph_facade.py:186-411). It holds the rows of `concepts` (every
  * column, as Spark would return them), the embeddings as one row-major
  * matrix (each row at `vecOff`, `vecLen` long; -1 for a NULL embedding)
  * and an id → row index for label hydration. Loaded once per
  * canonicalized `concepts` plan through [[GraphOps]]' accelerator
  * dispatch, and only while it fits [[ConceptTable.BudgetBytes]].
  *
  * Every answer equals the Spark plan it replaces, row for row and bit
  * for bit: `sim` is [[graft.functions.CosineSimilarity.score]], the loop
  * the Catalyst expression itself evaluates; comparisons and ordering use
  * Spark's double semantics (NaN greatest, -0.0 equal to 0.0); ties break
  * on `concept_id` ascending, NULL first, by UTF-8 bytes as Spark compares
  * strings; results return as a LocalRelation with the Spark path's
  * schema, so collecting one runs no job. */
final class ConceptTable private (
    schema: StructType,
    rows: Array[org.apache.spark.sql.catalyst.InternalRow],
    ids: Array[org.apache.spark.unsafe.types.UTF8String],
    labels: Array[String],
    vecOff: Array[Int],
    vecLen: Array[Int],
    matrix: Array[Double]) {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
  import graft.functions.CosineSimilarity

  /** Row indices by concept id; a duplicated id maps to every row. */
  private val byId: Map[String, Array[Int]] = ids.indices
    .filter(ids(_) != null).groupBy(ids(_).toString).map { case (k, v) => k -> v.toArray }

  /** Each row's cosine against `q` (of norm `qn`), boxed NULL where Spark
    * gives NULL: a NULL embedding, a zero-norm query, a length mismatch
    * or a zero-norm embedding. */
  private def scores(q: Array[Double]): Array[java.lang.Double] = {
    val qn = CosineSimilarity.norm(q)
    Array.tabulate(rows.length) { i =>
      if (vecLen(i) < 0 || qn == 0.0) null
      else CosineSimilarity.score(matrix, vecOff(i), vecLen(i), q, qn)
    }
  }

  /** The first `limit` of `hits` by `sim` descending, then `concept_id`
    * ascending — Spark's `orderBy(sim.desc, concept_id.asc).limit`. */
  private def topK(hits: Seq[Int], sim: Array[java.lang.Double], limit: Int): Seq[Int] = {
    val rank: Ordering[Int] = (a, b) => {
      val c = compareDoubles(sim(b), sim(a))
      if (c != 0) c
      else if (ids(a) == null) { if (ids(b) == null) 0 else -1 }
      else if (ids(b) == null) 1
      else ids(a).compareTo(ids(b))
    }
    val heap = mutable.PriorityQueue.empty[Int](rank)
    hits.foreach { i =>
      if (heap.size < limit) heap.enqueue(i)
      else if (limit > 0 && rank.lt(i, heap.head)) { heap.dequeue(); heap.enqueue(i) }
    }
    heap.dequeueAll.reverse
  }

  private def local(spark: SparkSession, out: StructType, rs: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), out)

  private lazy val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
    .createToScalaConverter(schema)
    .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow => Row]

  /** V1's scored scan (`Ann.bruteForceTopK` over the embedded concepts):
    * every `concepts` column plus `sim`, `sim >= minSimilarity`, top
    * `limit`. */
  def search(spark: SparkSession, query: Seq[Double], limit: Int,
      minSimilarity: Double): DataFrame = {
    val sim = scores(query.toArray)
    val hits = rows.indices.filter(i => sim(i) != null &&
      compareDoubles(sim(i), minSimilarity) >= 0)
    local(spark, schema.add(StructField("sim", DoubleType, nullable = true)),
      topK(hits, sim, limit).map(i => Row.fromSeq(toRow(rows(i)).toSeq :+ sim(i))))
  }

  /** S10's algebra ([[graft.KnowledgeGraph.fuseQuery]]) before its final
    * rounding: `(concept_id, label, sim)` for the embedded concepts whose
    * every include cosine is `>= threshold` and no exclude cosine is,
    * `sim` the least include cosine, top `limit`. */
  def fuse(spark: SparkSession, include: Seq[Seq[Double]], exclude: Seq[Seq[Double]],
      threshold: Double, limit: Int): DataFrame = {
    val inc = include.map(v => scores(v.toArray))
    val exc = exclude.map(v => scores(v.toArray))
    val least = new Array[java.lang.Double](rows.length)
    val hits = rows.indices.filter { i =>
      // a NULL embedding scores NULL, so it fails the first include
      val ok = inc.forall(s => s(i) != null && compareDoubles(s(i), threshold) >= 0) &&
        exc.forall(s => s(i) == null || compareDoubles(s(i), threshold) < 0)
      // Spark's least: the first of equal values, NaN greatest
      if (ok) least(i) = inc.map(_(i)).reduceLeft((m, x) =>
        if (compareDoubles(m, x) > 0) x else m)
      ok
    }
    local(spark, StructType(Seq(schema("concept_id"), schema("label"),
        StructField("sim", DoubleType, nullable = true))),
      topK(hits, least, limit).map(i => Row(Option(ids(i)).map(_.toString).orNull,
        labels(i), least(i))))
  }

  /** T1's label hydration as the inner join it replaces: one
    * `(concept_id, label, distance)` row per concept row of each reached
    * node past distance 0 — a node without a concept row drops out, a
    * duplicated concept row repeats. */
  def hydrate(spark: SparkSession, reached: Seq[(String, Int, String)]): DataFrame =
    local(spark, StructType(Seq(StructField("concept_id", StringType, nullable = true),
        schema("label"), StructField("distance", IntegerType, nullable = false))),
      for {
        (node, d, _) <- reached if d > 0
        i <- byId.getOrElse(node, Array.emptyIntArray).toSeq
      } yield Row(node, labels(i), d))
}

object ConceptTable {
  import org.apache.spark.sql.types.{ArrayType, FloatType}

  /** Resident bytes (concept rows plus the 8-byte embedding matrix) past
    * which the table stays in Spark. The serve-size KG (2,000 concepts ×
    * 64 dims) is ~1.5 MB; 64 MiB holds ~100k such concepts or ~5k at
    * 1,536 dims — the interactive scale the reference's accelerator
    * serves (its whole graph was 312 KB) — while a few resident tables
    * stay small beside a 2-4 GB driver heap. A larger table is cluster
    * territory: its scored scan distributes. A constant, not a setting:
    * the resident and Spark answers are equal, so the choice is only
    * where the bytes live. */
  val BudgetBytes: Long = 64L << 20

  /** The tables the facade reads have `concept_id` and `label` strings
    * and an `array<float|double>` `embedding`, and no `sim` column for
    * the search's `withColumn` to replace; any other shape keeps the
    * Spark path. */
  private[graph] def eligible(schema: StructType): Boolean = {
    def one(n: String, ok: org.apache.spark.sql.types.DataType => Boolean) =
      schema.fields.count(_.name.equalsIgnoreCase(n)) == 1 &&
        schema.fieldNames.contains(n) && ok(schema(n).dataType)
    one("concept_id", _ == StringType) && one("label", _ == StringType) &&
      one("embedding", {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }) && !schema.fieldNames.exists(_.equalsIgnoreCase("sim"))
  }

  /** Load `concepts` in ONE Spark job of one task — a scan coalesced to a
    * single partition that stops reading as soon as the rows' resident
    * bytes pass `budget`, so an over-budget table ships at most `budget`
    * bytes and never its whole extent. Some((bytes, rows, table)) when it
    * fits, None past the budget. */
  private[graph] def load(concepts: DataFrame, budget: Long): Option[(Long, Int, ConceptTable)] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    val schema = concepts.schema
    val emb = schema.fieldIndex("embedding")
    val qe = concepts.coalesce(1).queryExecution
    val taken = org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
        Some("resident concept table")) {
      qe.toRdd.mapPartitions { it =>
        val toUnsafe = UnsafeProjection.create(schema)
        val buf = mutable.ArrayBuffer.empty[InternalRow]
        var bytes = 0L
        while (bytes <= budget && it.hasNext) {
          val r = toUnsafe(it.next()).copy()
          bytes += r.getSizeInBytes + 8L * (if (r.isNullAt(emb)) 0 else r.getArray(emb).numElements())
          buf += r
        }
        Iterator((bytes, if (bytes <= budget) buf.toArray else null))
      }.collect()
    }
    val bytes = taken.map(_._1).sum
    Option(taken.headOption.fold(Array.empty[InternalRow])(_._2)).map { rs =>
      val floats = schema("embedding").dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
      val (idAt, labelAt) = (schema.fieldIndex("concept_id"), schema.fieldIndex("label"))
      val ids = rs.map(r => if (r.isNullAt(idAt)) null else r.getUTF8String(idAt).clone())
      val labels = rs.map(r => if (r.isNullAt(labelAt)) null else r.getUTF8String(labelAt).toString)
      val vecLen = rs.map(r => if (r.isNullAt(emb)) -1 else r.getArray(emb).numElements())
      val vecOff = vecLen.scanLeft(0)((o, n) => o + math.max(n, 0)).init
      val matrix = new Array[Double](vecLen.map(math.max(_, 0)).sum)
      rs.indices.foreach { i =>
        if (vecLen(i) > 0) {
          val a = rs(i).getArray(emb)
          var j = 0
          while (j < vecLen(i)) {
            matrix(vecOff(i) + j) = if (floats) a.getFloat(j).toDouble else a.getDouble(j)
            j += 1
          }
        }
      }
      (bytes, rs.length, new ConceptTable(schema, rs, ids, labels, vecOff, vecLen, matrix))
    }
  }
}
