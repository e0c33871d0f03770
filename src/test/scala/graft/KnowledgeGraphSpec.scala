package graft

import org.apache.spark.sql.DataFrame
import graft.graph.GraphOps

/** The domain facade on the FIXTURES.md §A micro-fixture: hand-checkable
  * 8-dim embeddings, the 5 opposing vocab pairs, NULL-confidence edges,
  * infra vs semantic edge separation. */
class KnowledgeGraphSpec extends SparkSpec {
  import spark.implicits._

  def v(x: Double, y: Double): Seq[Float] =
    Seq(x.toFloat, y.toFloat, 0f, 0f, 0f, 0f, 0f, 0f)

  lazy val kg: KnowledgeGraph = {
    val concepts = Seq(
      ("c1", "alpha", v(1, 0)),
      ("c2", "beta", v(0, 1)),
      ("c3", "gamma", v(-1, 0)),
      ("c4", "alpha prime", v(0.9, 0.1))
    ).toDF("concept_id", "label", "embedding")
    val vocab = Seq(
      ("SUPPORTS", v(1, 0)), ("CONTRADICTS", v(-1, 0)),
      ("VALIDATES", v(0.8, 0.6)), ("REFUTES", v(-0.8, -0.6)),
      ("CONFIRMS", v(0, 1)), ("DISPROVES", v(0, -1)),
      ("REINFORCES", v(0.6, 0.8)), ("OPPOSES", v(-0.6, -0.8)),
      ("ENABLES", v(1, 0)), ("PREVENTS", v(-1, 0))
    ).toDF("relationship_type", "embedding")
    val edges = Seq(
      ("c1", "c2", "SUPPORTS", Some(1.0)),
      ("c2", "c3", "SUPPORTS", None), // NULL confidence must traverse
      ("c1", "c3", "CONTRADICTS", Some(0.9)),
      ("c4", "c1", "CONTRADICTS", Some(1.0)),
      ("c1", "s1", "APPEARS", None) // infra edge: NOT semantic
    ).toDF("src", "dst", "rel_type", "confidence")
    val instances = Seq(("i1", "c1", "quote one")).toDF("instance_id", "concept_id", "quote")
    KnowledgeGraph(spark, concepts, edges,
      evidence = Seq(("c1", "s1"), ("c2", "s1")).toDF("concept_id", "source_id"),
      instances = instances, vocab = vocab)
  }

  test("search returns the exact-match concept first (V1)") {
    val top = kg.search(Seq(1, 0, 0, 0, 0, 0, 0, 0), limit = 2)
      .select("concept_id").as[String].collect()
    assert(top.head == "c1")
    assert(top(1) == "c4") // next most similar
  }

  test("fuseQuery: AND intersects includes, NOT drops excludes, min-sim ranks (S10)") {
    // include = {x-axis, near-x}: c1 and c4 pass both at 0.5; c2 (y-axis)
    // fails the x include. Ranking is by the MINIMUM include similarity.
    val inc = Seq(Seq(1.0, 0, 0, 0, 0, 0, 0, 0), Seq(0.9, 0.1, 0, 0, 0, 0, 0, 0))
    val both = kg.fuseQuery(inc, threshold = 0.5)
      .select("concept_id").as[String].collect().toSeq
    assert(both == Seq("c1", "c4"))
    // excluding anything similar to c4's direction removes c4 AND c1
    // (both are x-ish); a tight 0.995 threshold removes only c4's best
    // matches — use exclude = exactly c4's vector at high threshold.
    val minusC4 = kg.fuseQuery(inc,
      exclude = Seq(Seq(0.9, 0.1, 0, 0, 0, 0, 0, 0)), threshold = 0.5)
    // the exclude search at threshold 0.5 hits c1 and c4 → both removed
    assert(minusC4.count() === 0)
    // empty include list is rejected
    intercept[IllegalArgumentException](kg.fuseQuery(Nil))
  }

  test("resolveLabel returns the three V6 bands: match / did-you-mean / none") {
    import KnowledgeGraph.{DidYouMean, NoMatch, Resolved}
    // exact x-axis query: c1 at cosine 1.0 ≥ 0.75 → confident match
    kg.resolveLabel(Seq(1, 0, 0, 0, 0, 0, 0, 0)) match {
      case Resolved(m) => assert(m.conceptId == "c1" && m.score > 0.99)
      case other       => fail(s"expected Resolved, got $other")
    }
    // -45° query: best hit c1 at cos 0.707 — inside [0.60, 0.75) → the
    // near-miss band, best-first suggestions (c1 then c4 at ~0.62)
    kg.resolveLabel(Seq(0.707, -0.707, 0, 0, 0, 0, 0, 0)) match {
      case DidYouMean(s) =>
        assert(s.map(_.conceptId) == Seq("c1", "c4"))
        assert(s.forall(m => m.score >= 0.60 && m.score < 0.75))
      case other => fail(s"expected DidYouMean, got $other")
    }
    // -y query: nothing reaches the 0.60 floor → no match at all
    assert(kg.resolveLabel(Seq(0, -1, 0, 0, 0, 0, 0, 0)) == NoMatch)
  }

  test("conceptDetails hydrates one card: docs, evidence, degrees, scores") {
    val row = kg.conceptDetails("c1").collect().head
    assert(row.getAs[String]("label") == "alpha")
    assert(row.getAs[Long]("n_documents") == 1L)    // s1
    assert(row.getAs[Long]("evidence_count") == 1L) // i1
    assert(row.getAs[Long]("out_degree") == 2L)     // →c2, →c3 (APPEARS excluded)
    assert(row.getAs[Long]("in_degree") == 1L)      // c4→c1
    // one incoming CONTRADICTS (-1, 0) at confidence 1.0, projected on the
    // axis (1.36, 0.96)/√2.7712 of the five opposing-pair differences
    assert(math.abs(row.getAs[Double]("grounding_strength") -
      -1.36 / math.sqrt(2.7712)) < 1e-6)
    // composite 3/10 + 1/5 + 1/10 + 2/3 = 19/15 → (19/15)/(19/15 + 2)
    assert(math.abs(row.getAs[Double]("confidence_score") - 19.0 / 49.0) < 1e-9)
    assert(row.getAs[String]("confidence_level") == "tentative")
  }

  /** The concept card as the whole-graph scorers joined and then filtered
    * to one concept: the former `conceptDetails` body, kept as the
    * differential reference for the single-pass card. */
  private def referenceCard(kg: KnowledgeGraph, conceptId: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = kg.concepts.where(col("concept_id") === conceptId)
      .select(col("concept_id"), col("label"))
    val docs = kg.evidence.where(col("concept_id") === conceptId)
      .agg(countDistinct(col("source_id")).as("n_documents"))
    val ev = kg.instances.where(col("concept_id") === conceptId)
      .agg(count(lit(1)).as("evidence_count"))
    val deg = kg.semanticEdges
      .where(col("src") === conceptId || col("dst") === conceptId)
      .agg(
        coalesce(sum(when(col("src") === conceptId, 1L).otherwise(0L)), lit(0L))
          .as("out_degree"),
        coalesce(sum(when(col("dst") === conceptId, 1L).otherwise(0L)), lit(0L))
          .as("in_degree"))
    base.crossJoin(docs).crossJoin(ev).crossJoin(deg)
      .join(kg.grounding().where(col("concept_id") === conceptId)
        .select(col("concept_id"), col("grounding_strength")), Seq("concept_id"), "left")
      .join(kg.confidence().where(col("concept_id") === conceptId)
        .select(col("concept_id"), col("confidence_score"), col("confidence_level")),
        Seq("concept_id"), "left")
  }

  /** The micro-fixture plus the card's edge cases: a self-loop (c5), an
    * incoming NULL-confidence edge (c5→c2), a NULL rel type and a
    * non-vocab MENTIONS edge (c6 has no semantic edge and no evidence),
    * a concept with evidence and instances but no edge (c7, one source
    * named twice), a NULL source and a NULL label (c8). */
  lazy val cardKg: KnowledgeGraph = kg.copy(
    concepts = kg.concepts.unionByName(Seq(
      ("c5", Some("loop"), Option(v(0.5, 0.5))), ("c6", Some("island"), None),
      ("c7", Some("evidenced"), Some(v(0, -1))), ("c8", None, None)
    ).toDF("concept_id", "label", "embedding")),
    edges = kg.edges.unionByName(Seq(
      ("c5", "c5", Some("SUPPORTS"), Some(0.7)),
      ("c5", "c2", Some("VALIDATES"), None),
      ("c6", "c1", Some("MENTIONS"), Some(1.0)),
      ("c3", "c1", None, Some(0.5)),
      ("c3", "c5", Some("OPPOSES"), Some(0.25))
    ).toDF("src", "dst", "rel_type", "confidence")),
    evidence = kg.evidence.unionByName(Seq(
      ("c7", Some("s2")), ("c7", Some("s2")), ("c7", Some("s3")),
      ("c3", None), ("c5", Some("s1"))
    ).toDF("concept_id", "source_id")),
    instances = kg.instances.unionByName(Seq(
      ("i2", "c7", "quote two"), ("i3", "c7", "quote three"), ("i4", "c5", "loop quote")
    ).toDF("instance_id", "concept_id", "quote")))

  private def assertSameCard(kg: KnowledgeGraph, id: String): Unit = {
    val got = kg.conceptDetails(id)
    val want = referenceCard(kg, id)
    assert(got.schema == want.schema, s"$id: schema\n${got.schema}\nvs\n${want.schema}")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val (g, w) = (rows(got), rows(want))
    assert(g.size == w.size, s"$id: ${g.size} rows vs ${w.size}")
    g.zip(w).foreach { case (a, b) =>
      a.zip(b).zip(got.columns).foreach {
        case ((x: Double, y: Double), c) =>
          assert(math.abs(x - y) <= 1e-12, s"$id.$c: $x vs $y")
        case ((x, y), c) => assert(x == y, s"$id.$c: $x vs $y")
      }
    }
  }

  test("conceptDetails equals the whole-graph scorers filtered, column by column") {
    val ids = cardKg.concepts.select("concept_id").as[String].collect().toSeq
    assert(ids.size == 8)
    (ids ++ Seq("nope", "s1")).foreach(assertSameCard(cardKg, _))
    val byId = ids.map(id => id -> cardKg.conceptDetails(id).head()).toMap
    def isNull(id: String, c: String) = byId(id).isNullAt(byId(id).fieldIndex(c))
    // the edge cases hit the NULL branches they are there for
    assert(isNull("c4", "grounding_strength") && !isNull("c4", "confidence_score"))
    assert(isNull("c6", "grounding_strength") && isNull("c6", "confidence_level"))
    assert(isNull("c7", "grounding_strength") && !isNull("c7", "confidence_level"))
    assert(byId("c5").getAs[Long]("out_degree") == 2L && byId("c5").getAs[Long]("in_degree") == 2L)
    assert(byId("c7").getAs[Long]("n_documents") == 2L)
    assert(byId("c7").getAs[Long]("evidence_count") == 2L)
    assert(cardKg.conceptDetails("nope").isEmpty)
  }

  test("conceptDetails refuses a vocab that repeats a relationship type, naming it") {
    val repeated = cardKg.copy(vocab = cardKg.vocab.unionByName(
      cardKg.vocab.where($"relationship_type" === "OPPOSES")))
    val e = intercept[IllegalArgumentException](repeated.conceptDetails("c5").collect())
    assert(e.getMessage.contains("OPPOSES"))
  }

  test("conceptDetails fails like the whole-graph scorers without an opposing pair") {
    val unpaired = cardKg.copy(vocab = cardKg.vocab.where(!$"relationship_type".isin(
      "CONTRADICTS", "REFUTES", "DISPROVES", "OPPOSES", "PREVENTS")))
    val want = intercept[IllegalArgumentException](referenceCard(unpaired, "c1"))
    val got = intercept[IllegalArgumentException](unpaired.conceptDetails("c1"))
    assert(got.getMessage == want.getMessage)
  }

  test("a warm conceptDetails runs at most 2 Spark jobs") {
    kg.conceptDetails("c2").collect() // warms the vocab memo
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      kg.conceptDetails("c1").collect()
      Thread.sleep(500) // listener events post asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 2, s"expected at most 2 Spark jobs, saw ${jobs.get()}")
  }

  test("lifetime pages the ordered re-evidence stream (T8)") {
    val rows = kg.lifetime("c1", limit = 10)
      .select("instance_id", "rank").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("i1"))
    assert(rows.head.getLong(1) == 1L)
    // keyset page past the end is empty
    assert(kg.lifetime("c1", limit = 10, afterRank = 1L).isEmpty)
  }

  test("related traverses semantic edges only, NULL confidence passes") {
    val r = kg.related("c1", maxDepth = 2)
      .select("concept_id", "distance").as[(String, Int)].collect().toMap
    assert(r == Map("c2" -> 1, "c3" -> 1, "c4" -> 1)) // s1 excluded (infra)
  }

  test("shortest path avoids infra edges and hydrates the node sequence") {
    // restrict to SUPPORTS so c1→c3 must go through c2
    val p = GraphOps.shortestPath(
      kg.semanticEdges.where($"rel_type" === "SUPPORTS"), "c1", "c3", 4,
      GraphOps.Outgoing)
    assert(p.contains((2, Seq("c1", "c2", "c3"))))
  }

  test("findPath and findPaths answer from the graph related loaded, with no Spark job") {
    kg.related("c1", maxDepth = 2).collect() // loads the semantic graph
    val statusBefore = GraphOps.accelStatus
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (path, paths) =
      try {
        val r = (kg.findPath("c4", "c3"), kg.findPaths("c1", "c3", maxPaths = 3))
        Thread.sleep(500) // listener events post asynchronously
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"expected no Spark job, saw ${jobs.get()}")
    assert(GraphOps.accelStatus == statusBefore, "no load, no eviction")
    assert(path.contains((2, Seq("c4", "c1", "c3"))))
    assert(paths == Seq((1, Seq("c1", "c3")), (2, Seq("c1", "c2", "c3"))))
    // the same answers as the distributed engines on the same edges
    assert(path == GraphOps.shortestPath(kg.semanticEdges, "c4", "c3"))
    assert(paths == GraphOps.kShortestPaths(kg.semanticEdges, "c1", "c3",
      maxPaths = 3))
  }

  test("connectBySearch composes V1 + T3 (V5)") {
    val paths = kg.connectBySearch(
      Seq(1, 0, 0, 0, 0, 0, 0, 0), Seq(-1, 0, 0, 0, 0, 0, 0, 0), maxHops = 3)
    assert(paths.nonEmpty)
    assert(paths.head._2.head == "c1" && paths.head._2.last == "c3")
  }

  test("smell test classifies the cognitive leap (V4)") {
    val row = kg.smellTest(Seq(1, 0, 0, 0, 0, 0, 0, 0), "c1", "c2").head()
    assert(math.abs(row.getDouble(0) - 0.5) < 1e-9) // (1.0 + 0.0)/2
    assert(row.getString(1) == "HIGH")
  }

  test("grounding is positive for supported, negative for contradicted (A5)") {
    val g = kg.grounding().as[(String, Double)].collect().toMap
    assert(g("c2") > 0.5)  // incoming SUPPORTS
    assert(g("c1") < -0.5) // incoming CONTRADICTS from c4
    // c3: SUPPORTS (null conf → weight 1) + CONTRADICTS 0.9 → slightly +
    assert(math.abs(g("c3")) < 0.5)
  }

  test("confidence signals count rels and evidence in one pass (A3/A4)") {
    val c = kg.confidence()
      .select("concept_id", "relationship_count", "evidence_count", "confidence_level")
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(c("c1")._1 == 3) // c1↔c2, c1↔c3, c4↔c1 (APPEARS excluded)
    assert(c("c1")._2 == 1)
    assert(c("c1")._3 == "tentative")      // 3 rels, 1 source, 1 evidence
    assert(c("c3")._3 == "insufficient")   // 2 rels but no evidence
  }

  test("epistemic-status filter resolves to a rel-type allowlist (F4)") {
    val vocabWithStatus = kg.vocab.withColumn("epistemic_status",
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("relationship_type") === "SUPPORTS",
        "WELL_GROUNDED").otherwise("INSUFFICIENT_DATA"))
    val kg2 = kg.copy(vocab = vocabWithStatus)
    val only = kg2.relatedByEpistemicStatus("c1", 2,
        includeStatuses = Seq("WELL_GROUNDED"))
      .select("concept_id").as[String].collect().toSet
    assert(only == Set("c2", "c3")) // SUPPORTS chain only; c4's CONTRADICTS cut
  }

  test("vocabulary value scores rank heavily-used types higher (A11)") {
    val v = kg.vocabularyScores()
      .select("rel_type", "edge_count", "value_score")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(v("SUPPORTS")._2 == 2 && v("CONTRADICTS")._2 == 2)
    assert(v.values.forall(r => r._3 > 0.0 && r._3 <= 1.0))
  }

  test("stats snapshot counts all tables (A15)") {
    val row = kg.stats().head()
    assert(row.getLong(0) == 4 && row.getLong(1) == 4 && row.getLong(2) == 1)
  }

  test("merge_edge_types rewrites deprecated types (M5)") {
    val merged = kg.mergeEdgeTypes("CONTRADICTS", "OPPOSES")
    assert(merged.where($"rel_type" === "CONTRADICTS").isEmpty)
    assert(merged.where($"rel_type" === "OPPOSES").count() == 2)
  }

  test("GraphProgram dispatch: search → expand → intersect pipeline (P8)") {
    import graft.algebra.{GraphAlgebra, ProgramDispatch}
    import graft.algebra.GraphAlgebra.{And, Plus}
    // +search(c1) ; +expand 1 hop ; & details(c1, c2, c3)
    val stmts = Seq(
      ProgramDispatch.statement(kg, Plus,
        ProgramDispatch.SearchConcepts(Seq(1, 0, 0, 0, 0, 0, 0, 0), limit = 1)),
      ProgramDispatch.statement(kg, Plus, ProgramDispatch.ExpandWorkingSet(1)),
      ProgramDispatch.statement(kg, And,
        ProgramDispatch.ConceptDetails(Seq("c1", "c2", "c3"))))
    val (w, log, aborted) = GraphAlgebra.execute(spark, stmts)
    assert(!aborted && log.size == 3)
    val nodes = w.nodes.select("node_id").as[String].collect().toSet
    // search hits c1; expand reaches c2/c3/c4; intersect keeps c1..c3
    assert(nodes == Set("c1", "c2", "c3"))
    // links restricted to surviving nodes (dangling invariant)
    val links = w.links.select("from_id", "to_id").as[(String, String)].collect()
    assert(links.forall { case (f, t) => nodes.contains(f) && nodes.contains(t) })
    assert(links.nonEmpty)
  }

  test("P8 $W_IDS expansion stays on-cluster (no driver collect of the working set)") {
    import graft.algebra.{GraphAlgebra, ProgramDispatch}
    import graft.algebra.GraphAlgebra.Plus
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { actions.add(funcName); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val w0 = GraphAlgebra.WorkingGraph(Seq("c1").toDF("node_id"),
      Seq.empty[(String, String, String)].toDF("from_id", "rel_type", "to_id"))
    val stmt = ProgramDispatch.statement(kg, Plus,
      ProgramDispatch.ExpandWorkingSet(1))
    spark.listenerManager.register(listener)
    val expanded =
      try {
        Thread.sleep(100); actions.clear() // drain in-flight events first
        val out = stmt.produce(w0)
        val deadline = System.nanoTime() + 10_000_000_000L
        while (!actions.contains("count") && System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(!actions.contains("collect"),
          s"$$W_IDS seeds must expand via bfsFrom, never a driver collect (got $actions)")
        out
      } finally { spark.listenerManager.unregister(listener); () }
    val nodes = expanded.nodes.select("node_id").as[String].collect().toSet
    assert(nodes == Set("c1", "c2", "c3", "c4"))
  }

  test("derived ontology edges classify OVERLAPS vs SPECIALIZES (M7)") {
    val membership = Seq(
      ("O1", "x"), ("O1", "y"), ("O2", "x"), ("O2", "y"), ("O3", "x"))
      .toDF("ontology", "concept_id")
    val derived = kg.deriveOntologyEdges(membership)
      .select("ont_a", "ont_b", "rel_type").as[(String, String, String)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(derived(("O1", "O2")) == "OVERLAPS")
    assert(derived(("O1", "O3")) == "SPECIALIZES") // O1 covers all of O3
  }

  test("reassign moves members and dedups; dissolve drops the scope (M6)") {
    val membership = Seq(
      ("O1", "c1"), ("O1", "c2"), ("O2", "c2"), ("O2", "c3")
    ).toDF("ontology", "concept_id")
    val moved = kg.reassignOntology(membership, "O1", "O2")
      .as[(String, String)].collect().toSet
    // c2 was in both O1 and O2: one row survives the rewrite
    assert(moved == Set(("O2", "c1"), ("O2", "c2"), ("O2", "c3")))
    val dissolved = kg.dissolveOntology(membership, "O1")
      .as[(String, String)].collect().toSet
    assert(dissolved == Set(("O2", "c2"), ("O2", "c3")))
  }

  test("subgraph keeps only edges with both endpoints reachable (T5)") {
    val sg = kg.subgraph("c1", maxDepth = 1)
      .select("src", "dst").as[(String, String)].collect().toSet
    // c1..c4 are all within 1 undirected hop of c1; s1 (infra) is not
    assert(sg == Set(("c1", "c2"), ("c2", "c3"), ("c1", "c3"), ("c4", "c1")))
  }

  test("diversity: opposed neighborhood scores higher than aligned (A6)") {
    // c1's neighbors are c2 (0,1), c3 (-1,0), c4 (0.9,0.1): spread-out set
    val d = kg.diversity("c1", maxHops = 1).head()
    assert(d.getString(0) == "c1")
    assert(d.getLong(1) == 3) // n_related
    assert(d.getLong(2) == 3) // 3 pairs among 3 neighbors
    assert(d.getDouble(3) > 0.5) // mean pairwise cosine is low → diverse
    // a leaf-ish neighborhood (single neighbor) yields 0.0, never NULL
    val leaf = kg.diversity("c4", maxHops = 0).head()
    assert(leaf.getDouble(3) == 0.0 && leaf.getLong(2) == 0)
  }

  test("polarity analysis projects onto the pole axis with bands (V7)") {
    val p = kg.polarityAnalysis("c1", "c3") // poles (1,0) vs (-1,0)
      .select("concept_id", "position", "direction")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(p("c1")._1 > 0.9 && p("c1")._2 == "toward_a")
    assert(p("c3")._1 < -0.9 && p("c3")._2 == "toward_b")
    assert(p("c2")._2 == "neutral") // orthogonal to the axis
  }

  test("projectConcepts: PCA coords + cluster labels for every concept (V8)") {
    val out = kg.projectConcepts(eps = 1.0, minPts = 1)
    assert(out.columns.toSet == Set("id", "p0", "p1", "p2", "cluster"))
    assert(out.count() == 4)
  }

  test("affinity bitmask path ≡ collect_set path; out-of-domain refuses (A7)") {
    // The r16 domain-hinted fast path (codegen bit_or over ≤62 ontology
    // indexes) must be value-identical to the generic collect_set path on
    // a randomized membership, including concepts in 1..k ontologies and
    // duplicate membership rows (both paths dedup).
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(4242)
    val onts = (0 until 20).map(i => f"ONT#$i%02d")
    val rows = (0 until 200).flatMap { c =>
      val k = 1 + rnd.nextInt(6)
      val mine = rnd.shuffle(onts).take(k)
      // duplicates on purpose: membership input need not be pre-deduped
      (mine ++ mine.take(1)).map(o => (o, c.toLong))
    } ++ Seq((null.asInstanceOf[String], 7L), (null.asInstanceOf[String], 999L))
    // NULL ontologies (dirty data): collect_set skips them, so the
    // bitmask path must too — including concept 999 whose ONLY row is
    // null (absent from pairs and totals on both paths)
    val m = spark.createDataFrame(rows).toDF("ontology", "concept_id")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("ont_a", "ont_b", "shared_concepts", "target_total", "affinity")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
    val generic = rowsOf(graft.analysis.Scoring.ontologyAffinityAll(m))
    val bitmask = rowsOf(graft.analysis.Scoring.ontologyAffinityAll(
      m, Some(onts)))
    assert(bitmask == generic,
      s"paths diverge: onlyBitmask=${(bitmask -- generic).take(3)} " +
        s"onlyGeneric=${(generic -- bitmask).take(3)}")
    // a membership row OUTSIDE the declared domain refuses loudly — the
    // bitmask's null-skip would otherwise silently drop it from pairs
    val e = intercept[IllegalArgumentException](
      graft.analysis.Scoring.ontologyAffinityAll(
        m, Some(onts.drop(1))).collect())
    assert(e.getMessage.contains("outside"))
    // an oversized domain (>62) just falls back to the generic path
    val wide = onts ++ (0 until 60).map(i => s"PAD$i")
    assert(rowsOf(graft.analysis.Scoring.ontologyAffinityAll(
      m, Some(wide))) == generic)
  }

  test("fromStore pins the facade to one consistent cut") {
    import graft.core.SnapshotStore
    import graft.ingest.IngestPipeline
    val root = java.nio.file.Files.createTempDirectory("graft-kg-store").toString
    val st = new SnapshotStore(spark, root)
    val docs = Seq(
      ("d1", "alpha observations support theory building across experiments today"),
      ("d2", "theory building requires alpha observations and careful experiments"))
      .toDF("doc_id", "text")
    IngestPipeline.ingestBatchToStore(spark, st, docs, batchEpoch = 1L)
    val kg = KnowledgeGraph.fromStore(spark, st)
    val n0 = kg.concepts.count()
    assert(n0 > 0)
    // facade queries run over the cut; edges all resolve (the atomic
    // ingest means the cut can never hold an edge without its concept)
    val cids = kg.concepts.select("concept_id").as[String].collect().toSet
    kg.edges.select("src", "dst").as[(String, String)].collect()
      .foreach { case (a, b) => assert(cids.contains(a) && cids.contains(b)) }
    // a commit AFTER fromStore is invisible to the pinned facade
    IngestPipeline.ingestBatchToStore(spark, st,
      Seq(("d9", "entirely novel tokens manifest distinct semantic payloads here"))
        .toDF("doc_id", "text"), batchEpoch = 2L)
    assert(kg.concepts.count() == n0, "the facade must stay pinned to its cut")
    assert(KnowledgeGraph.fromStore(spark, st).concepts.count() > n0)
  }

  /** Run `f` with every concept table over its byte budget, so the facade
    * answers through its Spark plans. */
  private def onSparkPath[T](f: => T): T = {
    val was = GraphOps.conceptBudget
    GraphOps.conceptBudget = -1L
    try f finally GraphOps.conceptBudget = was
  }

  /** A value with every double and float replaced by its bits: NaN equals
    * NaN, -0.0 differs from 0.0. */
  private def bits(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToLongBits(d))
    case f: Float => ("f", java.lang.Float.floatToIntBits(f))
    case r: org.apache.spark.sql.Row => r.toSeq.map(bits)
    case m: KnowledgeGraph.LabelMatch => (m.conceptId, m.label, bits(m.score))
    case KnowledgeGraph.Resolved(m) => ("resolved", bits(m))
    case KnowledgeGraph.DidYouMean(ms) => ("did you mean", bits(ms))
    case xs: scala.collection.Seq[_] => xs.map(bits)
    case x => x
  }

  /** A plan Spark answers while optimizing it: collecting runs no job. */
  private def optimizesToLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Same schema and the same rows in the same order, bit for bit. */
  private def assertSameAnswer(resident: DataFrame, viaSpark: DataFrame, what: String): Unit = {
    assert(optimizesToLocal(resident), s"$what: the resident answer is a local relation")
    assert(resident.schema == viaSpark.schema, what)
    assert(resident.collect().toSeq.map(bits) == viaSpark.collect().toSeq.map(bits), what)
  }

  /** Spark jobs started while `f` runs. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      Thread.sleep(500) // listener events post asynchronously
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A concept table for the differential specs: seeded random 6-dim
    * float embeddings plus every edge case of the scoring contract. */
  lazy val vecKg: KnowledgeGraph = {
    val rnd = new scala.util.Random(11)
    def vec(d: Int = 6): Seq[Option[Float]] = Seq.fill(d)(Some(rnd.nextGaussian().toFloat))
    val tied = vec()
    val random = (1 to 60).map(i => (s"r$i", s"label $i", Some(vec())))
    val rows = random ++ Seq(
      ("t1", "tie", Some(tied)), ("t0", "tie", Some(tied)),      // exact ties
      ("t2", "tie x2", Some(tied.map(_.map(_ * 2f)))),           // same bits, scaled
      ("dup", "twin", Some(random(3)._3.get)),                   // a duplicated
      ("dup", "twin", Some(random(3)._3.get)),                   //   concept row
      ("none", "no embedding", None),
      ("zero", "zero norm", Some(Seq.fill(6)(Some(0f)))),
      ("nan", "NaN-bearing", Some(vec().updated(2, Some(Float.NaN)))),
      ("inf", "infinite", Some(vec().updated(4, Some(Float.PositiveInfinity)))),
      ("short", "wrong length", Some(vec(5))),
      ("long", "wrong length", Some(vec(7))),
      ("hole", "null element", Some(vec().updated(1, None))),
      (null, "no id", Some(vec())),
      ("nolabel", null, Some(vec())))
    kg.copy(concepts = rows.toDF("concept_id", "label", "embedding"))
  }

  /** Query vectors for the differential specs, degenerate ones included. */
  private lazy val queries: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(3)
    val tied = vecKg.concepts.where($"concept_id" === "t1")
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    Seq.fill(8)(Seq.fill(6)(rnd.nextGaussian())) ++ Seq(
      tied,                                  // three rows tie at the top
      Seq.fill(6)(0.0),                      // zero-norm query: no hit
      Seq.fill(5)(1.0),                      // matches only the 5-dim row
      Seq(1.0, Double.NaN, 0, 0, 0, 0),      // NaN query: every sim NaN
      Seq(-0.0, 0.0, 1.0, 0, 0, 0))
  }

  test("search and resolveLabel: the resident table equals the Spark plan bit for bit") {
    val rnd = new scala.util.Random(17)
    GraphOps.invalidateAccel()
    queries.zipWithIndex.foreach { case (q, i) =>
      Seq((100, -1.0), (1 + rnd.nextInt(6), Seq(0.0, 0.3, -0.5, Double.NaN)(rnd.nextInt(4))))
        .foreach { case (limit, floor) =>
          assertSameAnswer(vecKg.search(q, limit, floor),
            onSparkPath(vecKg.search(q, limit, floor)), s"query $i limit $limit floor $floor")
        }
      assert(bits(vecKg.resolveLabel(q, 0.9, 0.2)) ==
        bits(onSparkPath(vecKg.resolveLabel(q, 0.9, 0.2))), s"query $i")
    }
    assert(GraphOps.residentConcepts(vecKg.concepts).isDefined, "the table was resident")
  }

  test("fuseQuery: the resident table equals the Spark plan bit for bit") {
    val rnd = new scala.util.Random(19)
    (1 to 14).foreach { trial =>
      val include = Seq.fill(1 + rnd.nextInt(3))(queries(rnd.nextInt(queries.size)))
      val exclude = Seq.fill(rnd.nextInt(3))(queries(rnd.nextInt(queries.size)))
      val threshold = Seq(0.5, 0.0, -1.0, 0.2, Double.NaN)(rnd.nextInt(5))
      val limit = Seq(3, 10, 100)(rnd.nextInt(3))
      assertSameAnswer(vecKg.fuseQuery(include, exclude, threshold, limit),
        onSparkPath(vecKg.fuseQuery(include, exclude, threshold, limit)),
        s"trial $trial: threshold $threshold limit $limit")
    }
  }

  test("related: the resident graph and table equal distributed bfs and the join, " +
      "under random rel-type and confidence filters") {
    val rnd = new scala.util.Random(5)
    val semantic = Seq("SUPPORTS", "CONTRADICTS", "ENABLES", "PREVENTS")
    val types = semantic :+ "MENTIONS" // not in the vocab: never traversed
    val dirs = Seq[GraphOps.Direction](GraphOps.Outgoing, GraphOps.Incoming, GraphOps.Both)
    (1 to 4).foreach { trial =>
      val edges = Seq.fill(45)((s"n${rnd.nextInt(15)}", s"n${rnd.nextInt(15)}",
          types(rnd.nextInt(types.size)),
          rnd.nextInt(6) match {
            case 0 => None
            case 1 => Some(Double.NaN)
            case _ => Some(rnd.nextInt(10) / 10.0)
          }))
        .toDF("src", "dst", "rel_type", "confidence")
      // n12..n14 have no concept row; n3 has two
      val concepts = ((0 until 12).map(i => (s"n$i", s"concept $i")) :+ (("n3", "concept 3 bis")))
        .toDF("concept_id", "label")
        .withColumn("embedding", org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit(1.0)))
      val typed = kg.copy(concepts = concepts, edges = edges,
        vocab = semantic.toDF("relationship_type"))
      (1 to 6).foreach { call =>
        val start = s"n${rnd.nextInt(15)}"
        val depth = 1 + rnd.nextInt(3)
        val dir = dirs(rnd.nextInt(3))
        val minConf = Seq(None, Some(0.5), Some(0.0), Some(Double.NaN))(rnd.nextInt(4))
        val relTypes = rnd.nextInt(4) match {
          case 0 => None
          case 1 => Some(Nil)
          case _ => Some(rnd.shuffle(types :+ "UNKNOWN").take(1 + rnd.nextInt(3)))
        }
        val what = s"trial $trial call $call: $start depth $depth $dir $minConf $relTypes"
        val resident = typed.related(start, depth, dir, minConf, relTypes)
        val expected = GraphOps.bfs(typed.semanticEdges, Seq(start), depth, dir, minConf, relTypes)
          .where($"distance" > 0)
          .join(concepts.select($"concept_id".as("node"), $"label"), Seq("node"))
          .select($"node".as("concept_id"), $"label", $"distance")
        assert(optimizesToLocal(resident), what)
        assert(resident.schema == expected.schema, what)
        assert(resident.collect().toSeq.map(bits).sortBy(_.toString) ==
          expected.collect().toSeq.map(bits).sortBy(_.toString), what)
      }
    }
  }

  test("an over-budget concept table answers through the Spark path and is probed once") {
    val q = Seq(0.9, 0.1, 0, 0, 0, 0, 0, 0)
    GraphOps.invalidateAccel()
    val resident = kg.search(q, limit = 3)
    val was = GraphOps.conceptBudget
    GraphOps.invalidateAccel()
    GraphOps.conceptBudget = 64L // bytes: the 4-row fixture is past it
    try {
      val (first, coldJobs) = jobsDuring {
        val df = kg.search(q, limit = 3); (df, df.collect())
      }
      val (second, warmJobs) = jobsDuring {
        val df = kg.search(q, limit = 3); (df, df.collect())
      }
      // the memoized over-budget verdict skips the probe on the second call
      assert(coldJobs == warmJobs + 1, s"the probe is one job, run once: $coldJobs then $warmJobs")
      assert(!optimizesToLocal(first._1) && !optimizesToLocal(second._1),
        "the Spark plan answers")
      assert(first._1.schema == resident.schema)
      assert(first._2.toSeq.map(bits) == resident.collect().toSeq.map(bits))
      assert(second._2.toSeq.map(bits) == resident.collect().toSeq.map(bits))
    } finally GraphOps.conceptBudget = was
  }

  test("warm search, fuseQuery, resolveLabel and related, filtered or not, schedule no Spark job") {
    val q = Seq(1.0, 0, 0, 0, 0, 0, 0, 0)
    val inc = Seq(q, Seq(0.9, 0.1, 0, 0, 0, 0, 0, 0))
    val exc = Seq(Seq(0.0, 1, 0, 0, 0, 0, 0, 0))
    val kg2 = kg.copy(vocab = kg.vocab.withColumn("epistemic_status",
      org.apache.spark.sql.functions.when($"relationship_type" === "SUPPORTS",
        "WELL_GROUNDED").otherwise("INSUFFICIENT_DATA")))
    def calls(): Seq[Any] = Seq(
      kg.search(q).collect().toSeq.map(bits),
      kg.fuseQuery(inc, exc, 0.5).collect().toSeq.map(bits),
      kg.resolveLabel(q),
      kg.related("c1").collect().toSet,
      kg.related("c1", relTypes = Some(Seq("SUPPORTS"))).collect().toSet,
      kg.related("c1", minConfidence = Some(0.95)).collect().toSet,
      kg2.relatedByEpistemicStatus("c1", 2, includeStatuses = Seq("WELL_GROUNDED"))
        .collect().toSet)
    val cold = calls()
    val (warm, jobs) = jobsDuring(calls())
    assert(jobs == 0, s"expected no Spark job on warm calls, saw $jobs")
    assert(warm == cold)
    assert(kg.related("c1", relTypes = Some(Seq("SUPPORTS")))
      .select("concept_id").as[String].collect().toSet == Set("c2", "c3"))
  }

  test("every rel-type subset traverses the one resident graph") {
    GraphOps.invalidateAccel()
    val types = Seq("SUPPORTS", "CONTRADICTS", "VALIDATES", "REFUTES")
    val subsets = (1 to 12).map(m => types.zipWithIndex.collect {
      case (t, b) if ((m >> b) & 1) == 1 => t })
    assert(subsets.distinct.size == 12)
    subsets.foreach { ts =>
      val got = kg.related("c1", relTypes = Some(ts))
        .select("concept_id", "distance").as[(String, Int)].collect().toMap
      val want = GraphOps.bfs(kg.semanticEdges, Seq("c1"), 2, relTypes = Some(ts))
        .where($"distance" > 0).select("node", "distance").as[(String, Int)].collect().toMap
      assert(got == want, ts.toString)
    }
    assert(GraphOps.accelStatus._1 == 1, s"one loaded graph: ${GraphOps.accelStatus}")
  }
}
