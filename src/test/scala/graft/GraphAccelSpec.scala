package graft

import org.apache.spark.sql.DataFrame
import graft.graph.{GraphOps, InMemoryGraph}
import graft.graph.GraphOps._

/** Differential testing of the in-memory accelerator vs the distributed
  * BFS — the reference's own AGE-vs-graph_accel set-equality methodology
  * (graph-accel/tests/benchmark-comparison.sh, SURVEY §5), plus seeded
  * random graphs and the confidence-monotonicity invariant
  * (benchmark-findings.md:205-211). */
class GraphAccelSpec extends SparkSpec {
  import spark.implicits._

  def distances(df: DataFrame): Map[String, Int] =
    df.select("node", "distance").as[(String, Int)].collect().toMap

  def inMemDistances(edges: DataFrame, start: String, depth: Int,
      dir: Direction): Map[String, Int] =
    InMemoryGraph.load(edges).bfs(Seq(start), depth, dir)
      .map(t => t._1 -> t._2).toMap

  test("accelerator and distributed BFS agree on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    val dirs = Seq[Direction](Outgoing, Incoming, Both)
    (1 to 12).foreach { trial =>
      val n = 2 + rnd.nextInt(11)
      val m = 1 + rnd.nextInt(30)
      val es = Seq.fill(m)((s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}"))
      val depth = 1 + rnd.nextInt(4)
      val dir = dirs(rnd.nextInt(3))
      val df = es.toDF("src", "dst")
      val dist = distances(GraphOps.bfs(df, Seq("n0"), depth, dir))
      val accel = inMemDistances(df, "n0", depth, dir)
      assert(dist == accel,
        s"trial $trial: n=$n m=$m depth=$depth dir=$dir edges=$es")
    }
  }

  test("auto dispatch picks the accelerator under threshold, same result") {
    val es = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val auto = distances(GraphOps.bfsAuto(es, Seq("a"), 3, Outgoing))
    val dist = distances(GraphOps.bfs(es, Seq("a"), 3, Outgoing))
    assert(auto == dist)
    assert(auto == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
  }

  test("accel cache distinguishes same-schema graphs and survives invalidate") {
    // The load cache keys on the canonicalized plan; two local datasets
    // with IDENTICAL schema but different rows must never share an entry.
    val g1 = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val g2 = Seq(("a", "z")).toDF("src", "dst")
    assert(distances(GraphOps.bfsAuto(g1, Seq("a"), 3, Outgoing)) ==
      Map("a" -> 0, "b" -> 1, "c" -> 2))
    assert(distances(GraphOps.bfsAuto(g2, Seq("a"), 3, Outgoing)) ==
      Map("a" -> 0, "z" -> 1))
    // repeat g1 (cache hit path) — identical result
    assert(distances(GraphOps.bfsAuto(g1, Seq("a"), 3, Outgoing)) ==
      Map("a" -> 0, "b" -> 1, "c" -> 2))
    GraphOps.invalidateAccel()
    // cold reload after invalidation — still identical
    assert(distances(GraphOps.bfsAuto(g1, Seq("a"), 3, Outgoing)) ==
      Map("a" -> 0, "b" -> 1, "c" -> 2))
  }

  test("an accel cache hit schedules zero Spark jobs") {
    val g = Seq(("x", "y"), ("y", "z"), ("z", "w")).toDF("src", "dst")
    // prime the cache (probe + load jobs run here)
    GraphOps.bfsAuto(g, Seq("x"), 3, Outgoing).count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the traversal itself is driver-side on the cached adjacency — only
      // materializing the RESULT DataFrame may schedule work, so call the
      // path that returns plain values
      val r = GraphOps.shortestPathAuto(g, "x", "w", 4, Outgoing)
      assert(r.contains((3, Seq("x", "y", "z", "w"))))
      // pageRankAuto must HIT the same cache entry bfsAuto primed (one
      // shared filteredView plan) and iterate on the driver — its result
      // is a LocalRelation, so even collect() schedules no job
      val ranks = GraphOps.pageRankAuto(g, iterations = 2)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(ranks("y") > ranks("x")) // y has incoming mass, x has none
      Thread.sleep(500) // listener events post asynchronously
      assert(jobs.get() == 0, s"expected zero jobs on cache hit, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a threshold at or past Int.MaxValue still dispatches to the accelerator") {
    // The size probe's limit is an Int: an uncapped threshold overflowed
    // it to a negative limit, which Spark refuses at analysis. Edge rows
    // unique to this test, so no earlier cache entry short-cuts the probe.
    val es = Seq(("t1", "t2"), ("t2", "t3")).toDF("src", "dst")
    Seq(Int.MaxValue.toLong, 3000000000L, Long.MaxValue).foreach { t =>
      GraphOps.invalidateAccel()
      val auto = GraphOps.bfsAuto(es, Seq("t1"), 3, Outgoing, accelThreshold = t)
      // the accelerator answers with a local relation, not the hop joins
      assert(!auto.queryExecution.analyzed.toString.contains("Join"), s"threshold $t")
      assert(distances(auto) == inMemDistances(es, "t1", 3, Outgoing))
      assert(distances(auto) == Map("t1" -> 0, "t2" -> 1, "t3" -> 2))
    }
  }

  test("a bad GRAFT_ACCEL_THRESHOLD is refused with an error naming it") {
    assert(GraphOps.parseAccelThreshold(None) == 20000000L)
    assert(GraphOps.parseAccelThreshold(Some(" 5000 ")) == 5000L)
    assert(GraphOps.parseAccelThreshold(Some("0")) == 0L)
    Seq("abc", "-1", "2e7", "").foreach { bad =>
      val err = intercept[IllegalArgumentException](
        GraphOps.parseAccelThreshold(Some(bad)))
      assert(err.getMessage.contains("GRAFT_ACCEL_THRESHOLD"), bad)
    }
  }

  test("auto shortest path equals distributed shortest path") {
    val es = Seq(("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val auto = GraphOps.shortestPathAuto(es, "a", "e", 5, Outgoing)
    val dist = GraphOps.shortestPath(es, "a", "e", 5, Outgoing)
    assert(auto == dist)
    assert(auto.map(_._1).contains(3))
  }

  test("confidence filter is monotone: higher threshold never adds nodes") {
    val es = Seq(
      ("a", "b", Some(0.3)), ("b", "c", Some(0.6)), ("c", "d", Some(0.95)),
      ("a", "e", None)).toDF("src", "dst", "confidence")
    val sizes = Seq(None, Some(0.5), Some(0.9)).map { t =>
      GraphOps.bfsAuto(es, Seq("a"), 4, Outgoing, minConfidence = t).count()
    }
    assert(sizes == sizes.sorted.reverse) // none >= 0.5 >= 0.9
    // NULL-confidence edge survives every threshold (F5)
    Seq(Some(0.5), Some(0.9)).foreach { t =>
      val nodes = distances(GraphOps.bfsAuto(es, Seq("a"), 4, Outgoing, minConfidence = t))
      assert(nodes.contains("e"))
    }
  }

  test("auto k-shortest paths equals the distributed edge-exclusion loop") {
    val es = Seq(("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"), ("a", "d"))
      .toDF("src", "dst")
    val auto = GraphOps.kShortestPathsAuto(es, "a", "d", maxHops = 4, maxPaths = 3,
      GraphOps.Outgoing)
    val dist = GraphOps.kShortestPaths(es, "a", "d", maxHops = 4, maxPaths = 3,
      GraphOps.Outgoing)
    assert(auto == dist)
    assert(auto.head == ((1, Seq("a", "d")))) // direct edge first
    assert(auto.size == 3)
  }

  test("k-paths agree across engines on seeded random graphs") {
    // The q49 oracle replays this exact contract in SQL, so engine
    // agreement across random shapes (ties, dead ends, unreachable pairs)
    // is what makes that replay trustworthy.
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val n = 12 + trial * 3
      val edges = (1 to n * 2).map { _ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")
      }.filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
      val accel = graft.graph.InMemoryGraph.load(edges)
        .kShortestPaths("n0", s"n${n - 1}", maxHops = 4, maxPaths = 3, GraphOps.Both)
      val dist = GraphOps.kShortestPaths(edges, "n0", s"n${n - 1}",
        maxHops = 4, maxPaths = 3, GraphOps.Both)
      assert(accel == dist, s"trial $trial: $accel vs $dist")
    }
  }

  test("missing start node yields the ghost row, both engines") {
    val es = Seq(("a", "b")).toDF("src", "dst")
    assert(distances(GraphOps.bfsAuto(es, Seq("zz"), 3)) == Map("zz" -> 0))
    assert(distances(GraphOps.bfs(es, Seq("zz"), 3)) == Map("zz" -> 0))
  }

  test("distributed-interning load builds the identical graph (both variants)") {
    // loadDistributed only dispatches past 1M edges in production; force it
    // directly here and hold every accel product equal to the driver-interned
    // build on seeded random graphs with parallel edges, self-loops, and a
    // null endpoint row (dropped by both paths).
    val rnd = new scala.util.Random(23)
    val raw = (1 to 300).map { _ =>
      (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}")
    } ++ Seq(("n1", "n1"), ("n2", "n3"), ("n2", "n3")) // self-loop + parallel
    val edges = (raw.map { case (a, b) => (a: String, b: String) } :+
      ((null: String), "n5")).toDF("src", "dst")
    // AQE off forces MULTIPLE unevenly-sized per-partition array blocks
    // through the compact-shipping path — with AQE coalescing a tiny
    // shuffle to one partition, a block-length bug (copying the total
    // length instead of the block's) is invisible; exactly that bug
    // shipped in the weighted twin and only surfaced at sf10.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val viaDriver = graft.graph.InMemoryGraph.load(edges)
      val viaDist = graft.graph.InMemoryGraph.loadDistributed(edges)
    assert(viaDist.size == viaDriver.size)
    assert(viaDist.bfs(Seq("n0"), 4).toSet == viaDriver.bfs(Seq("n0"), 4).toSet)
    assert(viaDist.connectedComponents().toSet ==
      viaDriver.connectedComponents().toSet)
    assert(viaDist.pageRank(3).toMap == viaDriver.pageRank(3).toMap)
    assert(viaDist.kShortestPaths("n0", "n7", 4, 3, GraphOps.Both) ==
      viaDriver.kShortestPaths("n0", "n7", 4, 3, GraphOps.Both))
    // weighted twin
    val wedges = edges.withColumn("w",
      org.apache.spark.sql.functions.lit(1.0) +
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("src"),
            org.apache.spark.sql.functions.col("dst")),
          org.apache.spark.sql.functions.lit(5)).cast("double"))
    val wDriver = graft.graph.WeightedGraph.fromRows(
      wedges.select("src", "dst", "w").collect())
    val wDist = graft.graph.WeightedGraph.loadDistributed(wedges)
    assert(wDist.relax("n0", 4).toMap == wDriver.relax("n0", 4).toMap)
    } finally { spark.conf.set("spark.sql.adaptive.enabled", aqeWas); () }
  }

  test("rel-type and confidence filters on the resident graph equal the distributed BFS") {
    // seeded random typed graphs: NULL and NaN confidences (both pass
    // every threshold, as Spark orders NaN greatest), NULL rel types
    // (never in an allow-list), a threshold of NaN, an empty allow-list,
    // an unknown type; both loaders, every direction
    val rnd = new scala.util.Random(31)
    val types = Seq("A", "B", "C")
    val dirs = Seq[Direction](Outgoing, Incoming, Both)
    def triples(rows: Seq[(String, Int, String)]): Set[(String, Int, String)] = rows.toSet
    (1 to 8).foreach { trial =>
      val n = 4 + rnd.nextInt(10)
      val es = Seq.fill(5 + rnd.nextInt(30))((s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}",
          if (rnd.nextInt(6) == 0) null else types(rnd.nextInt(3)),
          rnd.nextInt(6) match {
            case 0 => None
            case 1 => Some(Double.NaN)
            case 2 => Some(-0.0)
            case _ => Some(rnd.nextInt(10) / 10.0)
          }))
        .toDF("src", "dst", "rel_type", "confidence")
      val viaDriver = InMemoryGraph.load(es)
      val viaDist = InMemoryGraph.loadDistributed(es)
      (1 to 4).foreach { call =>
        val depth = 1 + rnd.nextInt(4)
        val dir = dirs(rnd.nextInt(3))
        val minConf = Seq(None, Some(0.5), Some(0.0), Some(Double.NaN))(rnd.nextInt(4))
        val relTypes = rnd.nextInt(4) match {
          case 0 => None
          case 1 => Some(Nil)
          case _ => Some(rnd.shuffle(types :+ "Z").take(1 + rnd.nextInt(2)))
        }
        val what = s"trial $trial call $call: depth $depth $dir $minConf $relTypes edges=${es.collect().toSeq}"
        val dist = GraphOps.bfs(es, Seq("n0"), depth, dir, minConf, relTypes)
          .select("node", "distance", "parent").as[(String, Int, String)].collect().toSet
        Seq(viaDriver, viaDist).foreach { g =>
          assert(triples(g.bfs(Seq("n0"), depth, dir, Set.empty, minConf, relTypes)) == dist, what)
        }
        val auto = GraphOps.bfsAuto(es, Seq("n0"), depth, dir, minConf, relTypes)
          .select("node", "distance", "parent").as[(String, Int, String)].collect().toSet
        assert(auto == dist, what)
        assert(GraphOps.shortestPathAuto(es, "n0", s"n${n - 1}", depth, dir, minConf) ==
          GraphOps.shortestPath(es, "n0", s"n${n - 1}", depth, dir, minConf), what)
      }
    }
  }

  test("a rel-type filter over edges without a rel_type column filters nothing, both engines") {
    val es = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val want = Map("a" -> 0, "b" -> 1, "c" -> 2)
    assert(distances(GraphOps.bfs(es, Seq("a"), 3, Outgoing, relTypes = Some(Seq("X")))) == want)
    assert(distances(GraphOps.bfsAuto(es, Seq("a"), 3, Outgoing,
      minConfidence = Some(0.9), relTypes = Some(Seq("X")))) == want)
  }
}
