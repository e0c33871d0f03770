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
}
