package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{array, col, explode}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
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
  * (out and in). NULL confidence passes filters (F5 sentinel).
  */
final class InMemoryGraph private (
    val names: Array[String],
    idOf: java.util.HashMap[String, Integer],
    outAdj: Array[Array[Int]],
    inAdj: Array[Array[Int]]) {

  def size: Int = names.length

  private def neighbors(direction: GraphOps.Direction)(v: Int): Iterator[Int] =
    direction match {
      case GraphOps.Outgoing => outAdj(v).iterator
      case GraphOps.Incoming => inAdj(v).iterator
      case GraphOps.Both     => outAdj(v).iterator ++ inAdj(v).iterator
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
    * (undirected) node pairs; pass no exclusions for the plain path. */
  def shortestPathExcluding(from: String, to: String, maxHops: Int,
      direction: GraphOps.Direction,
      excluded: Set[(String, String)]): Option[(Int, Seq[String])] = {
    val res = bfs(Seq(from), maxHops, direction, excluded)
    val byName = res.map(t => t._1 -> t).toMap
    byName.get(to).map { case (_, hops, _) =>
      var path = List(to)
      var cur = byName(to)._3
      while (cur != null) { path = cur :: path; cur = byName(cur)._3 }
      (hops, path)
    }
  }

  /** BFS with min-distance semantics; returns (node, distance, parent).
    * `excludedEdges` drops the listed (undirected) node pairs.
    *
    * Dense int-array state (dist/parent indexed by interned id, no hashing
    * in the hop loop) — the same flat-adjacency discipline that gives the
    * reference's Rust core its sub-ms traversals (graph.rs:77-140). */
  def bfs(start: Seq[String], maxDepth: Int,
      direction: GraphOps.Direction = GraphOps.Both,
      excludedEdges: Set[(String, String)] = Set.empty): Seq[(String, Int, String)] = {
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
    var depth = 0
    while (frontier.nonEmpty && depth < maxDepth) {
      depth += 1
      val next = mutable.ArrayBuffer[Int]()
      frontier.foreach { v =>
        neighbors(direction)(v).foreach { w =>
          if (!checkBlocked || !blocked.contains((v, w))) {
            if (dist(w) < 0) {
              dist(w) = depth
              parent(w) = v
              next += w
            } else if (dist(w) == depth && parent(w) >= 0 &&
              names(v) < names(parent(w))) {
              parent(w) = v // deterministic min-parent, matching GraphOps
            }
          }
        }
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
  def load(edges: DataFrame): InMemoryGraph = apply(InternedEdges.fromRows(
    InternedEdges.view(edges, weighted = false).collect(), weighted = false))

  /** [[load]] with the interning done as a DISTRIBUTED dictionary join —
    * the large-graph load path (see [[InternedEdges.distributed]]). */
  def loadDistributed(edges: DataFrame): InMemoryGraph =
    apply(InternedEdges.distributed(edges, weighted = false))

  /** The out/in CSR adjacency over an interned edge list. */
  private[graph] def apply(e: InternedEdges): InMemoryGraph = {
    val n = e.names.length
    val outCount = new Array[Int](n)
    val inCount = new Array[Int](n)
    e.src.foreach(outCount(_) += 1)
    e.dst.foreach(inCount(_) += 1)
    val outAdj = Array.tabulate(n)(v => new Array[Int](outCount(v)))
    val inAdj = Array.tabulate(n)(v => new Array[Int](inCount(v)))
    val outPos = new Array[Int](n)
    val inPos = new Array[Int](n)
    var i = 0
    while (i < e.src.length) {
      val s = e.src(i); val d = e.dst(i)
      outAdj(s)(outPos(s)) = d; outPos(s) += 1
      inAdj(d)(inPos(d)) = s; inPos(d) += 1
      i += 1
    }
    new InMemoryGraph(e.names, e.idOf, outAdj, inAdj)
  }
}

/** An interned edge list — node names to dense ints plus parallel
  * (src, dst[, w]) arrays, `w` empty when unweighted. The one front end
  * both accelerator graphs ([[InMemoryGraph]], [[WeightedGraph]]) build
  * from, on the driver ([[fromRows]]) or distributed ([[distributed]]). */
private[graph] final class InternedEdges(
    val names: Array[String],
    val idOf: java.util.HashMap[String, Integer],
    val src: Array[Int], val dst: Array[Int], val w: Array[Double])

private[graph] object InternedEdges {

  /** Edge count above which [[load]] interns DISTRIBUTED instead of on the
    * driver: below it the two dictionary-join jobs cost more than they
    * parallelize away. */
  val DistributedLoadThreshold: Long = 1000000L

  /** The (src, dst[, w]) view every size probe and load reads: ids cast to
    * string, the weight to double, rows with a null field dropped. The
    * distributed engines drop a null endpoint at their equi-joins and a
    * null weight by null propagation, so the accelerator must drop them
    * too or the two dispatch paths diverge on the same input (a null
    * endpoint would intern as a phantom node, and a null weight could not
    * read as "no edge"). */
  def view(edges: DataFrame, weighted: Boolean): DataFrame = {
    val ends = Seq(col("src").cast("string"), col("dst").cast("string"))
    val kept = col("src").isNotNull && col("dst").isNotNull
    if (weighted)
      edges.select((ends :+ col("w").cast("double")): _*)
        .where(kept && col("w").isNotNull)
    else edges.select(ends: _*).where(kept)
  }

  /** Intern a [[view]] of `n` edges: on the driver below
    * [[DistributedLoadThreshold]], distributed above it. */
  def load(view: DataFrame, n: Long, weighted: Boolean): InternedEdges =
    if (n > DistributedLoadThreshold) distributed(view, weighted)
    else fromRows(view.collect(), weighted)

  /** Intern already-collected (src, dst[, w]) rows on the driver; rows
    * with a null endpoint are dropped (see [[view]]). */
  def fromRows(allRows: Array[Row], weighted: Boolean): InternedEdges = {
    val rows = allRows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val idOf = new java.util.HashMap[String, Integer]()
    val names = mutable.ArrayBuffer[String]()
    def intern(s: String): Int = {
      val existing = idOf.get(s)
      if (existing != null) existing.intValue()
      else { val id = names.length; idOf.put(s, id); names += s; id }
    }
    val srcs = new Array[Int](rows.length)
    val dsts = new Array[Int](rows.length)
    val ws = new Array[Double](if (weighted) rows.length else 0)
    var i = 0
    while (i < rows.length) {
      srcs(i) = intern(rows(i).getString(0))
      dsts(i) = intern(rows(i).getString(1))
      if (weighted) ws(i) = rows(i).getDouble(2)
      i += 1
    }
    new InternedEdges(names.toArray, idOf, srcs, dsts, ws)
  }

  /** Intern as a DISTRIBUTED dictionary join — the large-graph load path.
    * Driver-side [[fromRows]] pays an O(2·E) String-keyed HashMap intern
    * plus per-row String allocation, single-threaded (~15 s at sf10's
    * 17M-row doubled view — more than the traversal it feeds); here the
    * node dictionary (distinct name → dense id via zipWithIndex) and both
    * endpoint lookups run as plain shuffles, and the driver receives
    * COMPACT int (and double) arrays plus the 1-row-per-node dictionary.
    * Same graph by construction: [[view]] drops null fields exactly like
    * fromRows' filter, parallel edges survive as join duplicates, and
    * edge/array order is semantically irrelevant (BFS parents tie-break on
    * min NAME, components are order-free union-find, PageRank sums exact
    * decimals, weighted relaxation takes an exact min) — pinned by the
    * GraphAccelSpec differential, which runs both paths. */
  def distributed(edges: DataFrame, weighted: Boolean): InternedEdges = {
    val spark = edges.sparkSession
    val e = view(edges, weighted)
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
    val edgeParts: Array[(Array[Int], Array[Int], Array[Double])] = e
      .join(dictDF.toDF("src", "__sid"), "src")
      .join(dictDF.toDF("dst", "__did"), "dst")
      .select((Seq(col("__sid"), col("__did")) ++
        (if (weighted) Seq(col("w")) else Nil)): _*)
      .rdd.mapPartitions { it =>
        val sb = new mutable.ArrayBuilder.ofInt
        val db = new mutable.ArrayBuilder.ofInt
        val wb = new mutable.ArrayBuilder.ofDouble
        it.foreach { r =>
          sb += r.getInt(0); db += r.getInt(1)
          if (weighted) wb += r.getDouble(2)
        }
        Iterator((sb.result(), db.result(), wb.result()))
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
    new InternedEdges(names, idOf,
      Array.concat(edgeParts.map(_._1).toIndexedSeq: _*),
      Array.concat(edgeParts.map(_._2).toIndexedSeq: _*),
      Array.concat(edgeParts.map(_._3).toIndexedSeq: _*))
  }
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

  def edgeCount: Int = edges.src.length

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
    new WeightedGraph(InternedEdges.fromRows(rows, weighted = true))
}
