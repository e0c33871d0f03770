package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Scoring
import graft.functions.VectorOps
import graft.graph.GraphOps
import graft.similarity.Ann

/** The domain facade: the reference's query surface
  * (POST /query/search, /query/related, /query/connect, /query/paths,
  * /concepts/details — api/app/routes/queries.py) as one Scala API over
  * the KG-shaped tables of FIXTURES.md §A. A user of the reference's API
  * maps each endpoint to one method here; every method returns a DataFrame
  * and composes with the rest of the engine.
  *
  * Tables: concepts(concept_id, label, embedding, …),
  * edges(src, dst, rel_type, confidence, …) — semantic Concept↔Concept,
  * evidence(concept_id, source_id) — the APPEARS projection,
  * instances(instance_id, concept_id, quote),
  * vocab(relationship_type, embedding, …).
  */
final case class KnowledgeGraph(
    spark: SparkSession,
    concepts: DataFrame,
    edges: DataFrame,
    evidence: DataFrame,
    instances: DataFrame,
    vocab: DataFrame) {

  /** The reference's 5 opposing vocab pairs driving the polarity axis
    * (grounding.py:151-157). */
  val polarityPairs: Seq[(String, String)] = Seq(
    "SUPPORTS" -> "CONTRADICTS", "VALIDATES" -> "REFUTES",
    "CONFIRMS" -> "DISPROVES", "REINFORCES" -> "OPPOSES",
    "ENABLES" -> "PREVENTS")

  /** §3.1 V1: semantic concept search — scored scan, threshold, top-k
    * (queries.py:529-620): every `concepts` column plus `sim`, best first,
    * ties on `concept_id` ascending. The scan runs on the driver over the
    * resident concept table ([[GraphOps.residentConcepts]]: loaded once
    * per `concepts` plan in one Spark job while it fits the table's byte
    * budget), and the ≤`limit` hits return as a local relation, so a warm
    * search runs no Spark job at all. A table over the budget runs the
    * same scan as a Spark plan ([[Ann.bruteForceTopK]]); both give the
    * same schema, rows and `sim` bits. */
  def search(queryVec: Seq[Double], limit: Int = 10,
      minSimilarity: Double = 0.0): DataFrame =
    resident(limit) match {
      case Some(t) => t.search(spark, queryVec, limit, minSimilarity)
      case None => Ann.bruteForceTopK(concepts.where(col("embedding").isNotNull),
        "concept_id", "embedding", queryVec, limit, minSimilarity)
    }

  /** The resident concept table for a top-`limit` answer; a negative
    * limit keeps the Spark plan, which refuses it. */
  private def resident(limit: Int): Option[graft.graph.ConceptTable] =
    if (limit < 0) None else GraphOps.residentConcepts(concepts)

  /** V6 semantic label resolution (reference
    * cli/src/mcp/graph-operations.ts:263-292): graph edits reference
    * concepts by label; the resolver runs the V1 scored scan for the top 3
    * at the suggestion floor and returns one of three bands —
    * [[KnowledgeGraph.Resolved]] when the best hit clears the accept
    * threshold (0.75), [[KnowledgeGraph.DidYouMean]] when the best hit is
    * a near-miss in [0.60, 0.75) (the "did you mean?" candidates, best
    * first), [[KnowledgeGraph.NoMatch]] when nothing reaches the floor.
    * One bounded scan ([[search]]: on the driver, with no Spark job, while
    * the concept table is resident). */
  def resolveLabel(queryVec: Seq[Double], acceptThreshold: Double = 0.75,
      suggestionFloor: Double = 0.60): KnowledgeGraph.LabelResolution = {
    val hits = search(queryVec, limit = 3, minSimilarity = suggestionFloor)
      .select(col("concept_id"), col("label"), col("sim"))
      .collect()
      .map(r => KnowledgeGraph.LabelMatch(r.getString(0), r.getString(1), r.getDouble(2)))
      .toSeq
    hits match {
      case Seq() => KnowledgeGraph.NoMatch
      case top +: _ if top.score >= acceptThreshold => KnowledgeGraph.Resolved(top)
      case suggestions => KnowledgeGraph.DidYouMean(suggestions)
    }
  }

  /** S10: the FUSE read surface's query algebra
    * (fuse/kg_fuse/filesystem/__init__.py:1-33 — nested directories = AND,
    * symlink unions = OR via repeated calls, `.meta/exclude` = NOT,
    * `.meta/limit`/`.meta/threshold` bound each leaf search): every
    * include vector runs the V1 scored scan at `threshold`, the hit sets
    * intersect keeping each concept's MINIMUM include similarity (a
    * concept must satisfy every include term, so its weakest match ranks
    * it), exclude vectors' hits drop out, and the survivors return
    * hydrated, top-`limit` by that min similarity.
    *
    * All terms are per-row functions of the one embedding column, so the
    * whole algebra is ONE scan with conjunctive predicates and a top-k —
    * no self-joins, no anti-joins, no re-reading concepts per term. A
    * NULL cosine (zero-norm embedding) fails every include (never
    * matches) and never triggers an exclude, matching the per-term
    * search-then-set-op semantics it replaces.
    *
    * Like [[search]], the scan runs on the driver over the resident
    * concept table and the hits return as a local relation; the final
    * `round(sim, 6)` stays a Spark projection over it, which Spark
    * evaluates while optimizing the plan — no job. Over the table's byte
    * budget the whole algebra is the Spark plan below, with the same
    * result. */
  def fuseQuery(include: Seq[Seq[Double]], exclude: Seq[Seq[Double]] = Nil,
      threshold: Double = 0.5, limit: Int = 10): DataFrame = {
    require(include.nonEmpty, "at least one include query vector")
    val hits = resident(limit) match {
      case Some(t) => t.fuse(spark, include, exclude, threshold, limit)
      case None =>
        def sims(vs: Seq[Seq[Double]]): Seq[Column] =
          vs.map(v => VectorOps.cosine(col("embedding"), VectorOps.vecLit(v)))
        val incSims = sims(include)
        val includeOk = incSims.map(_ >= threshold).reduce(_ && _)
        val excludeOk = sims(exclude)
          .map(s => coalesce(s < threshold, lit(true)))
          .foldLeft(lit(true))(_ && _)
        concepts.where(col("embedding").isNotNull)
          .select(col("concept_id"), col("label"),
            incSims.reduce(least(_, _)).as("sim"),
            includeOk.as("__inc"), excludeOk.as("__exc"))
          .where(col("__inc") && col("__exc"))
          .orderBy(col("sim").desc, col("concept_id").asc)
          .limit(limit)
          .select(col("concept_id"), col("label"), col("sim"))
    }
    hits.select(col("concept_id"), col("label"), round(col("sim"), 6).as("similarity"))
  }

  /** §3.2 T1: BFS neighborhood with rel-type/confidence filters and
    * hydrated labels (J3) (queries.py:1306-1416): `(concept_id, label,
    * distance)` for every concept within `maxDepth`, the start excluded.
    * The reference serves /query/related from its accelerator with a
    * distributed fallback (graph_facade.py:186-310); here the traversal
    * runs on the resident semantic graph, which keeps each edge's rel
    * type and confidence, so every filter subset shares one loaded graph,
    * and the labels come from the resident concept table — a warm call
    * runs no Spark job. Hydration keeps the inner join's semantics: a
    * reached node with no concept row drops out, a duplicated concept row
    * repeats. When either structure is over its size bound,
    * [[GraphOps.bfsAuto]] and a join against `concepts` answer instead;
    * the engines are differentially proven identical (GraphAccelSpec,
    * KnowledgeGraphSpec). */
  def related(conceptId: String, maxDepth: Int = 2,
      direction: GraphOps.Direction = GraphOps.Both,
      minConfidence: Option[Double] = None,
      relTypes: Option[Seq[String]] = None): DataFrame =
    GraphOps.ensureLoaded(semanticEdges)
      .flatMap(g => GraphOps.residentConcepts(concepts).map(g -> _)) match {
      case Some((g, t)) => t.hydrate(spark,
        g.bfs(Seq(conceptId), maxDepth, direction, Set.empty, minConfidence, relTypes))
      case None =>
        GraphOps.bfsAuto(semanticEdges, Seq(conceptId), maxDepth, direction,
            minConfidence, relTypes)
          .where(col("distance") > 0)
          .join(concepts.select(col("concept_id").as("node"), col("label")), Seq("node"))
          .select(col("node").as("concept_id"), col("label"), col("distance"))
    }

  /** Only Concept↔Concept semantic edges load into traversals — the
    * accelerator's pruned-load rule (graph_facade.py:1033-1069). Planned
    * once per instance (it is pinned to one snapshot), so every traversal
    * and path call hands the accelerator cache the same plan. */
  lazy val semanticEdges: DataFrame =
    edges.join(broadcast(vocab.select(col("relationship_type").as("rel_type"))),
      Seq("rel_type"), "left_semi")

  /** T2/T7: shortest path with hydrated node sequence. The accelerator
    * answers first, as the reference serves /query/connect
    * (graph_facade.py:316-347): [[GraphOps.shortestPathAuto]] reuses the
    * graph [[related]] loaded for the same semantic edges, and only a view
    * over the accelerator threshold runs the distributed engine. */
  def findPath(from: String, to: String, maxHops: Int = 6): Option[(Int, Seq[String])] =
    GraphOps.shortestPathAuto(semanticEdges, from, to, maxHops)

  /** T3: k-shortest paths (edge-exclusion contract), accelerator first
    * like [[findPath]] — the reference's /query/paths
    * (graph_facade.py:349-411) via [[GraphOps.kShortestPathsAuto]]. */
  def findPaths(from: String, to: String, maxHops: Int = 6,
      maxPaths: Int = 5): Seq[(Int, Seq[String])] =
    GraphOps.kShortestPathsAuto(semanticEdges, from, to, maxHops, maxPaths)

  /** V5 connect-by-search: phrase embeddings → best concept match each →
    * paths between them (queries.py:1498-1658). */
  def connectBySearch(fromVec: Seq[Double], toVec: Seq[Double],
      maxHops: Int = 6, maxPaths: Int = 5): Seq[(Int, Seq[String])] = {
    def best(v: Seq[Double]): Option[String] =
      search(v, 1).collect().headOption.map(_.getAs[String]("concept_id"))
    (best(fromVec), best(toVec)) match {
      case (Some(a), Some(b)) => findPaths(a, b, maxHops, maxPaths)
      case _ => Seq.empty
    }
  }

  /** V4 smell test: cosine of evidence vs both endpoints → cognitive leap
    * LOW ≥0.85 / MEDIUM ≥0.70 / HIGH (age_client/query.py:184-275). */
  def smellTest(evidenceVec: Seq[Double], c1: String, c2: String): DataFrame = {
    val q = VectorOps.vecLit(evidenceVec)
    concepts.where(col("concept_id").isin(c1, c2))
      .agg(avg(VectorOps.cosine(col("embedding"), q)).as("avg_similarity"))
      .withColumn("cognitive_leap",
        when(col("avg_similarity") >= 0.85, "LOW")
          .when(col("avg_similarity") >= 0.70, "MEDIUM")
          .otherwise("HIGH"))
  }

  /** F4: epistemic-status → rel-type resolution — translate include/
    * exclude status lists into an allowed rel-type list and run
    * [[related]] with it, undirected (queries.py:259-314). The status
    * filter runs over [[epistemicVocab]], so a warm call runs no Spark
    * job. Requires vocab to carry `epistemic_status`. */
  def relatedByEpistemicStatus(conceptId: String, maxDepth: Int,
      includeStatuses: Seq[String] = Seq.empty,
      excludeStatuses: Seq[String] = Seq.empty): DataFrame = {
    val allowed = epistemicVocab
      .where(if (includeStatuses.nonEmpty)
        col("epistemic_status").isin(includeStatuses: _*) else lit(true))
      .where(if (excludeStatuses.nonEmpty)
        !col("epistemic_status").isin(excludeStatuses: _*) else lit(true))
      .select("relationship_type")
      .collect().map(_.getString(0)).toSeq
    related(conceptId, maxDepth, GraphOps.Both, relTypes = Some(allowed))
  }

  /** vocab's `(relationship_type, epistemic_status)` rows as a local
    * relation, collected once per instance (one small job on first use):
    * Spark evaluates a filter over a local relation while optimizing, so
    * the status lists resolve with Spark's own `isin` semantics and no
    * job. */
  private lazy val epistemicVocab: DataFrame = {
    val v = vocab.select("relationship_type", "epistemic_status")
    spark.createDataFrame(java.util.Arrays.asList(v.collect(): _*), v.schema)
  }

  /** GET /query/concept/{id} (queries.py:600-700): one hydrated concept
    * card — label, distinct source documents, evidence count, in/out
    * semantic degree, grounding strength, confidence score+level.
    *
    * A point lookup in one pass: the concept's own rows — its `concepts`
    * row, its semantic edges (`src` or `dst` = id, rel type in the vocab),
    * its `evidence` and `instances` rows — are filtered at the scan,
    * unioned and folded by ONE global aggregate (one exchange, two Spark
    * jobs once `vocabConstants` is warm). The scores go through the
    * same [[Scoring]] helpers as the whole-graph [[grounding]] and
    * [[confidence]], so the card equals their row for the concept:
    * `grounding_strength` is NULL without an incoming semantic edge, and
    * the confidence columns are NULL without a semantic edge or an
    * evidence row. The card's `evidence_count` counts `instances`; the
    * confidence signal's evidence count counts `evidence` rows. An
    * unknown id gives no row. A vocab that repeats a relationship_type
    * is refused: the whole-graph join would count such a type's edges
    * once per vocab row. */
  def conceptDetails(conceptId: String): DataFrame = {
    val vc = vocabConstants
    require(vc.repeated.isEmpty, "conceptDetails: vocab repeats relationship_type " +
      s"${vc.repeated.mkString(", ")}; the card needs one polarity projection per type")
    val id = lit(conceptId)
    val projection = map(vc.projection.toSeq.flatMap { case (t, p) =>
      Seq(lit(t), p.fold(lit(null).cast("double"))(lit)) }: _*)
    val rows = concepts.where(col("concept_id") === id)
      .select(struct(col("concept_id"), col("label")).as("__concept"))
      .unionByName(edges
        .where((col("src") === id || col("dst") === id) &&
          col("rel_type").isin(vc.projection.keys.toSeq: _*))
        .select((col("src") === id).as("__out"), (col("dst") === id).as("__in"),
          col("rel_type"), col("confidence"),
          element_at(projection, col("rel_type")).as("__proj")),
        allowMissingColumns = true)
      .unionByName(evidence.where(col("concept_id") === id)
        .select(lit(true).as("__evidence"), col("source_id")), allowMissingColumns = true)
      .unionByName(instances.where(col("concept_id") === id)
        .select(lit(true).as("__instance")), allowMissingColumns = true)
    val signals = rows
      .agg(
        collect_list(col("__concept")).as("__concepts"),
        // collect_set, not countDistinct: distinct aggregates would add
        // an Expand and a second exchange
        size(collect_set(col("source_id"))).cast("long").as("source_count"),
        count(col("__evidence")).as("evidence_count"),
        count(col("__instance")).as("__instances"),
        count(when(col("__out"), 1)).as("out_degree"),
        count(when(col("__in"), 1)).as("in_degree"),
        size(collect_set(col("rel_type"))).cast("long").as("relationship_type_count"),
        Scoring.groundingMean(col("confidence"), col("__proj"), col("__in"))
          .as("grounding_strength"))
      .withColumn("relationship_count", col("out_degree") + col("in_degree"))
      .withColumn("type_diversity",
        Scoring.typeDiversity(col("relationship_count"), col("relationship_type_count")))
    val scored = col("relationship_count") > 0 || col("evidence_count") > 0
    Scoring.confidenceScore(signals)
      .select(inline(col("__concepts")), col("source_count").as("n_documents"),
        col("__instances").as("evidence_count"), col("out_degree"), col("in_degree"),
        col("grounding_strength"),
        when(scored, col("confidence_score")).as("confidence_score"),
        when(scored, col("confidence_level")).as("confidence_level"))
  }

  /** T8 / GET /concepts/{id}/lifetime (epoch_facade.py:52-196): the
    * ordered re-evidence stream for one concept — instances ordered by
    * their creation epoch event when the instances table carries
    * `created_at_event_id` (ASC NULLS LAST, reference ordering), else by
    * instance_id; keyset-paged by rank. The single-partition window is
    * bounded by ONE concept's evidence list, the same per-entity bound
    * the reference's pagination assumes. */
  def lifetime(conceptId: String, limit: Int = 50, afterRank: Long = 0L): DataFrame = {
    val mine = instances.where(col("concept_id") === conceptId)
    val order =
      if (instances.columns.contains("created_at_event_id"))
        Seq(col("created_at_event_id").asc_nulls_last, col("instance_id").asc)
      else Seq(col("instance_id").asc)
    val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
    mine.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") > afterRank && col("rank") <= afterRank + limit)
      .orderBy(col("rank"))
  }

  /** A11: per-rel-type vocabulary value scores over the semantic edges. */
  def vocabularyScores(): DataFrame =
    Scoring.vocabularyValueScores(semanticEdges)

  /** A3+A4: per-concept confidence signals + score. */
  def confidence(): DataFrame =
    Scoring.confidenceScore(Scoring.confidenceSignals(semanticEdges, evidence))

  /** A5: grounding strength for every concept with incoming semantic
    * edges, against the vocabulary polarity axis. */
  def grounding(): DataFrame =
    Scoring.groundingStrength(semanticEdges, vocab, vocabConstants.axis)

  /** The per-snapshot vocab memo: the polarity axis and each vocab type's
    * projection onto it (its keys are the semantic type set). An instance
    * is pinned to one immutable snapshot, so this is computed once, on
    * first use, by two small jobs over vocab, and every later
    * [[conceptDetails]] and [[grounding]] call reuses it. Fails like
    * [[Scoring.polarityAxis]] when the vocab has no opposing pair. */
  private lazy val vocabConstants: KnowledgeGraph.VocabConstants = {
    val axis = Scoring.polarityAxis(vocab, polarityPairs)
    val proj = Scoring.vocabProjection(vocab, axis)
      .where(col("rel_type").isNotNull)
      .collect().toSeq
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    KnowledgeGraph.VocabConstants(axis, proj.toMap,
      proj.groupBy(_._1).collect { case (t, ps) if ps.size > 1 => t }.toSeq.sorted)
  }

  /** T4: degree centrality over semantic edges. */
  def degrees(topN: Int = 20): DataFrame =
    GraphOps.degrees(semanticEdges)
      .orderBy(col("total_degree").desc, col("node").asc).limit(topN)

  /** A15: snapshot totals (the freshness-clock input,
    * 00_baseline.sql:1065-1096). */
  def stats(): DataFrame = {
    import spark.implicits._
    Seq((concepts.count(), semanticEdges.count(), instances.count(),
      vocab.count())).toDF("n_concepts", "n_edges", "n_instances", "n_vocab_types")
  }

  /** T5/J8: edge-induced subgraph within `maxDepth` of a concept — the
    * /query/subgraph surface (graph_facade.py:818-869). */
  def subgraph(conceptId: String, maxDepth: Int = 2): DataFrame =
    GraphOps.inducedSubgraph(semanticEdges, conceptId, maxDepth)

  /** A6: Gini-Simpson-style diversity of a concept's neighborhood —
    * 1 − mean pairwise cosine over ≤`limit` related concepts within
    * `maxHops` undirected hops (diversity_analyzer.py:48-185). Returns
    * one row: (concept_id, n_related, n_pairs, diversity). */
  def diversity(conceptId: String, maxHops: Int = 2, limit: Int = 100): DataFrame = {
    val neighborIds = GraphOps.bfsAuto(semanticEdges, Seq(conceptId), maxHops)
      .where(col("distance") > 0)
      .orderBy(col("node")).limit(limit)   // deterministic ≤100 cap (LIMIT 100)
      .select(col("node").as("concept_id"))
    // Only embedded neighbors join: n_related/n_pairs must count exactly
    // the vectors that feed the mean (the reference pairs only embedded
    // concepts, diversity_analyzer.py:48-185) — otherwise a NULL-embedding
    // neighbor inflates the counts while avg(cos) skips its NULL cosines.
    val nb = neighborIds.join(
      concepts.where(col("embedding").isNotNull)
        .select(col("concept_id"),
          col("embedding").cast("array<double>").as("embedding")), "concept_id")
    val a = nb.toDF("a_id", "a_emb")
    val b = nb.toDF("b_id", "b_emb")
    a.join(b, col("a_id") < col("b_id"))
      .select(VectorOps.cosine(col("a_emb"), col("b_emb")).as("cos"))
      .agg((lit(1.0) - avg(col("cos"))).as("raw_div"), count(lit(1)).as("n_pairs"))
      .crossJoin(nb.agg(count(lit(1)).as("n_related")))
      .select(lit(conceptId).as("concept_id"), col("n_related"), col("n_pairs"),
        // < 2 embedded neighbors → no pairs → diversity 0 (not NULL)
        coalesce(col("raw_div"), lit(0.0)).as("diversity"))
  }

  /** V7 polarity-axis analysis: two pole concepts define the axis; every
    * embedded concept is projected to a normalized position in [-1,1] with
    * ±0.3 direction bands (polarity_axis.py:63-130). */
  def polarityAnalysis(poleA: String, poleB: String): DataFrame = {
    def emb(id: String): Seq[Double] = {
      val rows = concepts.where(col("concept_id") === id)
        .select(col("embedding").cast("array<double>")).limit(1).collect()
      require(rows.nonEmpty, s"polarity pole not found: $id")
      require(!rows.head.isNullAt(0), s"polarity pole has no embedding: $id")
      rows.head.getSeq[Double](0)
    }
    Scoring.polarityProjection(
      concepts.where(col("embedding").isNotNull)
        .select(col("concept_id"), col("embedding").cast("array<double>").as("embedding")),
      "embedding", emb(poleA).toArray, emb(poleB).toArray)
  }

  /** V8: 3-D projection + clustering of the concept embedding space (PCA
    * baseline + grid DBSCAN — embedding_projection_service.py:641-807).
    * The t-SNE path is bounded: at most `maxSamples` embedded concepts
    * (ascending concept_id) are projected — the overflow is logged by
    * [[graft.analysis.Projection.tsne]] and concepts past the bound are
    * absent from the result; raise `maxSamples` or use algorithm="pca"
    * (unbounded, distributed) for larger ontologies. */
  def projectConcepts(eps: Double, minPts: Int = 4,
      algorithm: String = "pca", maxSamples: Int = 2000): DataFrame = {
    val embedded = concepts.where(col("embedding").isNotNull)
      .select(col("concept_id").as("id"), col("embedding").as("v"))
    // "tsne" (the reference's default) and "umap" run driver-side over a
    // bounded sample, like the reference; "pca" = the distributed scale
    // path (embedding_projection_service.py:719-751 vs SURVEY §7.3).
    // Eager checkpoint: the projected coordinates feed the eps estimate,
    // the result join, and DBSCAN — three consumers, one materialization.
    val p = (algorithm match {
      case "tsne" => graft.analysis.Projection.tsne(embedded, "id", "v", dims = 3,
        maxSamples = maxSamples)
      case "umap" => graft.analysis.Projection.umap(embedded, "id", "v", dims = 3,
        maxSamples = maxSamples)
      case _      => graft.analysis.Projection.pca(embedded, "id", "v", k = 3)
    }).localCheckpoint(true)
    val dims = Seq("p0", "p1", "p2")
    // Reference auto-tune (40th-pct k-NN distance) is an O(n²) driver-side
    // heuristic, so on the distributed PCA path it sees a bounded
    // deterministic sample — never the full corpus.
    val epsUsed =
      if (eps > 0) eps
      else graft.analysis.Projection.suggestEps(
        p.orderBy(col("id")).limit(2000), dims, minPts)
    p.join(graft.analysis.Projection.dbscan(p, "id", dims, epsUsed, minPts), "id")
  }

  /** M5 merge_edge_types: rewrite edges from a deprecated type to its
    * canonical type (vocabulary.py:701-841). Returns the updated edge
    * table (snapshot-rewrite, not in-place). */
  def mergeEdgeTypes(deprecated: String, canonical: String): DataFrame =
    edges.withColumn("rel_type",
      when(col("rel_type") === deprecated, canonical).otherwise(col("rel_type")))

  /** M6 reassign: move every member of `from` to `to` (the SCOPED_BY edge
    * rewrite, ontology_scoring.py:447-731) — snapshot-rewrite of the
    * membership table, deduped in case `to` already held members. */
  def reassignOntology(membership: DataFrame, from: String, to: String): DataFrame =
    membership.withColumn("ontology",
        when(col("ontology") === from, to).otherwise(col("ontology")))
      .dropDuplicates("ontology", "concept_id")

  /** M6 dissolve: delete an ontology and its scoping edges (membership
    * rows); concepts themselves are ontology-independent and survive. */
  def dissolveOntology(membership: DataFrame, ontology: String): DataFrame =
    membership.where(col("ontology") =!= ontology)

  /** M7 derived ontology edges: classify every ontology pair from the
    * affinity matrix — OVERLAPS (symmetric ≥ 0.1 both directions),
    * SPECIALIZES/GENERALIZES (asymmetry > 30%) — full refresh semantics
    * (ontology_scorer.py:409-543). membership: (ontology, concept_id). */
  def deriveOntologyEdges(membership: DataFrame): DataFrame = {
    // full pair table, unsorted — every pair is classified, so the top-N
    // global sort would be pure cost
    val aff = Scoring.ontologyAffinityAll(membership)
      .select(col("ont_a"), col("ont_b"), col("affinity").as("a_to_b"))
    val rev = aff.select(col("ont_a").as("ont_b"), col("ont_b").as("ont_a"),
      col("a_to_b").as("b_to_a"))
    aff.join(rev, Seq("ont_a", "ont_b"), "full_outer")
      .na.fill(0.0, Seq("a_to_b", "b_to_a"))
      .where(col("ont_a") < col("ont_b"))
      .withColumn("rel_type",
        when(col("a_to_b") >= 0.1 && col("b_to_a") >= 0.1 &&
          abs(col("a_to_b") - col("b_to_a")) <= greatest(col("a_to_b"), col("b_to_a")) * 0.3,
          "OVERLAPS")
          .when(col("a_to_b") > col("b_to_a"), "SPECIALIZES")
          .otherwise("GENERALIZES"))
      .select(col("ont_a"), col("ont_b"), col("a_to_b"), col("b_to_a"), col("rel_type"))
  }
}

object KnowledgeGraph {
  /** `KnowledgeGraph.vocabConstants`: the polarity axis, each vocab
    * type's projection onto it (NULL for a NULL embedding), and the types
    * that more than one vocab row names. */
  private final case class VocabConstants(axis: Array[Double],
      projection: Map[String, Option[Double]], repeated: Seq[String])

  /** One scored hit from [[KnowledgeGraph.resolveLabel]]. */
  final case class LabelMatch(conceptId: String, label: String, score: Double)

  /** The V6 three-band resolution outcome (match / suggestions / none). */
  sealed trait LabelResolution
  final case class Resolved(matched: LabelMatch) extends LabelResolution
  final case class DidYouMean(suggestions: Seq[LabelMatch]) extends LabelResolution
  case object NoMatch extends LabelResolution

  /** Load a KG from a directory of parquet tables (FIXTURES.md §A names). */
  def load(spark: SparkSession, dir: String): KnowledgeGraph = {
    def t(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    val edges = t("edges")
    KnowledgeGraph(spark, t("concepts"), edges,
      evidence = edges.where(col("rel_type") === "APPEARS")
        .select(col("src").as("concept_id"), col("dst").as("source_id")),
      instances = t("instances"), vocab = t("vocab"))
  }

  /** Load a KG from the snapshot store at ONE transactionally consistent
    * cut ([[graft.core.SnapshotStore.snapshotAll]]): every facade query —
    * search, BFS, hydration, subgraphs — sees concepts and edges the way
    * some atomic ingest/cascade committed them, never an interleaving
    * (the Postgres-MVCC read the reference's facade gets implicitly,
    * api/app/lib/graph_facade.py). Vocab is optional (tables the store
    * does not hold read as empty-shaped frames); the returned KG is
    * pinned — later commits never mutate it. */
  def fromStore(spark: SparkSession, store: graft.core.SnapshotStore,
      tablePrefix: String = ""): KnowledgeGraph = {
    import spark.implicits._
    val wanted = Seq("concepts", "edges", "instances", "vocab")
      .map(tablePrefix + _)
    val cut = store.snapshotPresent(wanted)
    def tbl(role: String, empty: => DataFrame): DataFrame =
      cut.get(tablePrefix + role)
        .map(v => store.readAt(tablePrefix + role, v)).getOrElse(empty)
    val edges = tbl("edges", Seq.empty[(String, String, String, Double)]
      .toDF("src", "dst", "rel_type", "confidence"))
    KnowledgeGraph(spark,
      concepts = tbl("concepts", Seq.empty[(String, String, Array[Float])]
        .toDF("concept_id", "label", "embedding")),
      edges = edges,
      evidence = edges.where(col("rel_type") === "APPEARS")
        .select(col("src").as("concept_id"), col("dst").as("source_id")),
      instances = tbl("instances", Seq.empty[(String, String)]
        .toDF("concept_id", "quote")),
      vocab = tbl("vocab",
        Seq.empty[(String, String, Int, Boolean, Array[String], Array[Float], String)]
          .toDF("relationship_type", "category", "usage_count", "is_active",
            "synonyms", "embedding", "epistemic_status")))
  }
}
