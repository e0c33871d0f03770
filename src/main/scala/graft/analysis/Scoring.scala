package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Knowledge-graph scoring operators (SURVEY §2.4): grounding strength,
  * confidence signals/score, diversity, cross-ontology affinity, ontology
  * mass/coherence, epistemic classification, polarity-axis projection.
  *
  * Each reference operator ran N+1 batch queries chunked at 25 IDs to keep
  * the AGE planner happy (api/app/constants.py:167); here each is ONE
  * set-oriented pass — a groupBy/join pipeline Catalyst plans globally.
  */
object Scoring {

  /** Michaelis-Menten saturation x/(x+k) — the reference's universal
    * squashing function (confidence_analyzer.py:592-597 k=2.0;
    * ontology_scorer.py:69-77 k=2.0; diversity_analyzer.py:156-161 k=0.3). */
  def mmSaturation(x: Column, k: Double): Column = x / (x + lit(k))

  /** A3: per-concept confidence signals in one pass over the edge and
    * evidence tables (vs 3 batch queries + Python group-by in the
    * reference, confidence_analyzer.py:384-490).
    *
    * edges: (src, dst, rel_type); evidence: (concept_id, source_id). */
  def confidenceSignals(edges: DataFrame, evidence: DataFrame): DataFrame = {
    val rels = edges.select(col("src").as("concept_id"), col("rel_type"))
      .unionAll(edges.select(col("dst").as("concept_id"), col("rel_type")))
      .groupBy("concept_id")
      .agg(count(lit(1)).as("relationship_count"),
        countDistinct(col("rel_type")).as("relationship_type_count"))
    val ev = evidence.groupBy("concept_id")
      .agg(count(lit(1)).as("evidence_count"),
        countDistinct(col("source_id")).as("source_count"))
    rels.join(ev, Seq("concept_id"), "full_outer")
      .na.fill(0L, Seq("relationship_count", "relationship_type_count",
        "evidence_count", "source_count"))
      .withColumn("type_diversity",
        typeDiversity(col("relationship_count"), col("relationship_type_count")))
  }

  /** A3 type diversity: distinct relationship types per relationship,
    * capped at 1; a concept with no relationships scores 0. */
  def typeDiversity(relationshipCount: Column, relationshipTypeCount: Column): Column =
    least(lit(1.0), relationshipTypeCount /
      greatest(relationshipCount, lit(1)).cast("double"))

  /** A4: composite + M-M score + level ladder
    * (confidence_analyzer.py:54-62,561-627). */
  def confidenceScore(signals: DataFrame): DataFrame =
    signals
      .withColumn("composite",
        col("relationship_count") / lit(10.0) + col("source_count") / lit(5.0) +
          col("evidence_count") / lit(10.0) + col("type_diversity"))
      .withColumn("confidence_score", mmSaturation(col("composite"), 2.0))
      .withColumn("confidence_level",
        when(col("relationship_count") >= 5 && col("source_count") >= 3 &&
          col("evidence_count") >= 3, "confident")
          .when(col("relationship_count") >= 2 && col("source_count") >= 1 &&
            col("evidence_count") >= 1, "tentative")
          .otherwise("insufficient"))

  /** Polarity axis: mean of the opposing-pair difference vectors,
    * L2-normalized — a driver-side constant computed from the (tiny) vocab
    * table (grounding.py:125-204). vocab: (relationship_type, embedding). */
  def polarityAxis(vocab: DataFrame, pairs: Seq[(String, String)]): Array[Double] = {
    val emb = vocab.select(col("relationship_type"),
        col("embedding").cast("array<double>").as("e"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    val diffs = pairs.flatMap { case (pos, neg) =>
      for (p <- emb.get(pos); n <- emb.get(neg))
        yield p.zip(n).map { case (a, b) => a - b }
    }
    require(diffs.nonEmpty, "no opposing pairs found in vocabulary")
    val dim = diffs.head.length
    val mean = (0 until dim).map(i => diffs.map(_(i)).sum / diffs.size).toArray
    val norm = math.sqrt(mean.map(x => x * x).sum)
    mean.map(_ / (if (norm == 0.0) 1.0 else norm))
  }

  /** A5: grounding strength — confidence-weighted mean of each incoming
    * edge's vocab-embedding projection onto the polarity axis
    * (grounding.py:206-388). NULL confidence weights as 1.0 (the
    * NaN-passes sentinel, F5).
    *
    * inEdges: (dst=concept_id, rel_type, confidence); vocab joined
    * broadcast (tiny dim table — J9). */
  def groundingStrength(inEdges: DataFrame, vocab: DataFrame,
      axis: Array[Double]): DataFrame =
    inEdges
      .join(broadcast(vocabProjection(vocab, axis)), Seq("rel_type"), "left")
      .groupBy(col("dst").as("concept_id"))
      .agg(groundingMean(col("confidence"), col("proj")).as("grounding_strength"))

  /** Each vocab type's projection onto the polarity axis:
    * (rel_type, proj). */
  def vocabProjection(vocab: DataFrame, axis: Array[Double]): DataFrame =
    vocab.select(col("relationship_type").as("rel_type"),
      VectorOps.dot(col("embedding"), VectorOps.vecLit(axis.toSeq)).as("proj"))

  /** A5 grounding weighted mean, as an aggregate: the confidence-weighted
    * mean of the edges' vocab projections over the rows where `include`
    * holds. NULL confidence weighs 1.0 and a NULL projection counts 0;
    * no included row gives NULL. */
  def groundingMean(confidence: Column, projection: Column,
      include: Column = lit(true)): Column = {
    val w = when(include, coalesce(confidence, lit(1.0)))
    sum(w * coalesce(projection, lit(0.0))) / sum(w)
  }

  /** A6 authenticated diversity: grounding-gated diversity score —
    * `g/(|g|+0.3) × diversity` (diversity_analyzer.py:199-229; the k=0.3
    * M-M gate keeps weakly-grounded concepts from claiming high diversity). */
  def authenticatedDiversity(grounding: Column, diversity: Column): Column =
    grounding / (abs(grounding) + lit(0.3)) * diversity

  /** A7: cross-ontology affinity — shared concepts / total concepts in
    * target, per ontology pair, top-N (ontology_scoring.py:213-265).
    * membership: (ontology, concept_id). `domain`: the known ontology
    * universe, when the caller has it from a DIMENSION (q43's brands come
    * off the part dim — never scan the fact stream to learn it); ≤62
    * values switch the per-concept set aggregation to the codegen
    * bitmask path (see [[ontologyAffinityAll]]). */
  def ontologyAffinity(membership: DataFrame, topN: Int,
      domain: Option[Seq[String]] = None): DataFrame =
    ontologyAffinityAll(membership, domain)
      // order on the UNROUNDED ratio (the oracle's sort key) — the stored
      // `affinity` column is 6dp-rounded and could tie where the ratio
      // doesn't, shifting the top-N cut
      .orderBy((col("shared_concepts") / col("target_total").cast("double")).desc,
        col("ont_a").asc, col("ont_b").asc)
      .limit(topN)

  /** [[ontologyAffinity]] without the top-N global sort — the full pair
    * table (same columns, same 6dp rounding) for consumers that re-rank
    * per-ontology (Annealing's top-5 exposure window) or classify every
    * pair (M7 edge derivation): a global sort of the pair table buys them
    * nothing and costs a full-range exchange.
    *
    * Shape (r12 rewrite, measured ~1.9× at sf10): ONE aggregation
    * `groupBy(concept).collect_set(ontology)` replaces the former
    * distinct + self-join. The former plan's cost was dominated by the
    * global dropDuplicates exchange — a raw 100 TB membership stream
    * dedups poorly map-side (members scattered across partitions), so
    * nearly the whole fact stream crossed the wire just to become
    * distinct before the join. collect_set dedups IN the aggregation
    * (per-partition partial sets, one exchange of combined sets keyed by
    * concept), and the k² pair emission happens by double-exploding each
    * concept's ontology array inside the next stage, partial-aggregated
    * into the tiny (ont_a, ont_b) group table before its exchange — the
    * pair stream itself never shuffles, exactly like the former
    * join+groupBy but without the two membership exchanges feeding it.
    * Per-concept state is its ontology SET — bounded by the ontology
    * count, which is dims-scale by definition. Input need not be
    * pre-deduped.
    *
    * r16: the pair emission is HALVED — shared counts are symmetric, so
    * each concept emits only its ordered (i < j) pairs from the SORTED
    * ontology array (posexplode + tail slice: k(k-1)/2 + k rows instead
    * of the double explode's k²), and the missing orientation is MIRRORED
    * after aggregation, on the tiny (ont_a, ont_b) group table instead of
    * the fact-scale pair stream. Same output, same order-insensitivity;
    * ~5-10% off q43's sf10 wall on its own (BenchOne min-of-2: 7.45 →
    * 6.8-7.1 s). The bigger r16 lever is the BITMASK fast path below —
    * with the domain hint, q43's sf10 min-of-2 lands at 5.0-5.3 s
    * (~30% off) because the fact-stream set aggregation leaves the
    * object-aggregation regime entirely. A raised objectHashAggregate
    * fallback threshold was ALSO tried and measured 2.5× WORSE (17.9 s):
    * the sort-based fallback beats a 100k-entry object hash map, so the
    * default stays. */
  def ontologyAffinityAll(membership: DataFrame,
      domain: Option[Seq[String]] = None): DataFrame = {
    // Referenced twice (pairs + totals): materialize the grouped view
    // once, LAZILY. Post-grouping it's one row per concept with a small
    // array — entities-scale, not fact-scale.
    // sort_array is CORRECTNESS, not cosmetics: the half-pair emission
    // keys each unordered pair by (min, max), so two concepts sharing the
    // same pair always land on the SAME group key — without the canonical
    // order the count would split across (x,y) and (y,x) and the mirror
    // would emit duplicate keys.
    //
    // BITMASK fast path (r16): with a caller-supplied ontology DOMAIN of
    // ≤62 values (dims-scale by definition; q43's brands come off the
    // part dimension), the per-concept set aggregation becomes
    // `bit_or(1L << domain_index)` — a fixed-width LongType buffer inside
    // whole-stage-codegen HashAggregate, where collect_set is a
    // TypedImperativeAggregate that falls to sort-based object
    // aggregation at fact-stream cardinality. The mask decodes to the
    // SORTED ontology array at entities scale (filter HOF over the
    // domain), after which the half-pair tail is identical. An ontology
    // OUTSIDE the declared domain fails loudly (bit_or's null-skip would
    // otherwise silently drop it from every pair).
    val perConcept = domain.map(_.distinct.sorted) match {
      case Some(d) if d.nonEmpty && d.size <= 62 =>
        val idx = map(d.zipWithIndex.flatMap { case (o, i) =>
          Seq(lit(o), lit(i)) }: _*)
        // checkpoint FIRST, validate on the checkpointed frame: the
        // domain check is the materializing action, so the fact-stream
        // aggregation runs exactly once for check + downstream both.
        // NULL ontologies drop BEFORE the aggregation — collect_set
        // skips nulls, so the generic path tolerates them and the
        // bitmask path must too (without the filter they'd trip the
        // out-of-domain refusal with a misleading diagnosis).
        val cp = membership
          .where(col("ontology").isNotNull)
          .withColumn("__i", element_at(idx, col("ontology")))
          .groupBy(col("concept_id"))
          .agg(expr("bit_or(shiftleft(1L, __i))").as("__mask"),
            max(col("__i").isNull.cast("int")).as("__unknown"))
          .withColumn("__dom", array(d.map(lit): _*))
          .withColumn("__onts",
            expr("filter(__dom, (x, i) -> (shiftright(__mask, i) & 1) = 1)"))
          .select(col("concept_id"), col("__onts"), col("__unknown"))
          .localCheckpoint(true)
        val bad = cp.agg(max(col("__unknown"))).head()
        if (!bad.isNullAt(0) && bad.getInt(0) > 0)
          throw new IllegalArgumentException(
            "ontologyAffinityAll: membership carries ontologies outside " +
              s"the declared ${d.size}-value domain — the bitmask " +
              "aggregation would silently drop them; fix the domain or " +
              "omit it")
        cp.select(col("concept_id"), col("__onts"))
      case _ =>
        membership
          .groupBy(col("concept_id"))
          .agg(sort_array(collect_set(col("ontology"))).as("__onts"))
          .localCheckpoint(true)
    }
    val totals = perConcept.select(explode(col("__onts")).as("ont_b"))
      .groupBy("ont_b").agg(count(lit(1)).as("target_total"))
    // i < j pairs only: for each position, pair with the strictly-later
    // tail of the sorted set — the slice's generate emits exactly the
    // half-pair stream, no self rows, no post-filter
    val half = perConcept
      .select(col("__onts"),
        posexplode(col("__onts")).as(Seq("__i", "ont_a")))
      .select(col("ont_a"),
        explode(expr("slice(__onts, __i + 2, size(__onts))")).as("ont_b"))
      .groupBy("ont_a", "ont_b")
      .agg(count(lit(1)).as("shared_concepts"))
    // mirror the aggregated pairs (ontology² rows — dims-scale) to
    // restore the full ordered table consumers expect
    val shared = half.unionAll(half.select(
      col("ont_b").as("ont_a"), col("ont_a").as("ont_b"),
      col("shared_concepts")))
    shared.join(broadcast(totals), "ont_b")
      .withColumn("affinity", col("shared_concepts") / col("target_total").cast("double"))
      .select(col("ont_a"), col("ont_b"), col("shared_concepts"),
        col("target_total"), round(col("affinity"), 6).as("affinity"))
  }

  /** A9: ontology mass = M-M saturation of member/source/edge counts
    * (ontology_scorer.py:44-77). stats: (ontology, n_concepts, n_sources,
    * n_internal_rels). */
  def ontologyMass(stats: DataFrame): DataFrame =
    stats.withColumn("mass", round(mmSaturation(
      col("n_concepts") / lit(50.0) + col("n_sources") / lit(20.0) +
        col("n_internal_rels") / lit(50.0), 2.0), 6))

  /** A9 coherence: mean pairwise cosine of member embeddings
    * (ontology_scorer.py:79-123). members: (ontology, id, embedding). */
  def ontologyCoherence(members: DataFrame): DataFrame = {
    val a = members.toDF("ontology", "a_id", "a_emb")
    val b = members.toDF("ontology", "b_id", "b_emb")
    a.join(b, Seq("ontology"))
      .where(col("a_id") < col("b_id"))
      .withColumn("cos", graft.functions.CosineSimilarity(col("a_emb"), col("b_emb")))
      .groupBy("ontology")
      .agg(round(avg(col("cos")), 6).as("coherence"), count(lit(1)).as("n_pairs"))
  }

  /** V7: project candidate vectors onto the axis between two pole vectors:
    * normalized position in [-1,1], orthogonal distance, ±0.3 direction
    * bands (polarity_axis.py:63-130,190-452). */
  def polarityProjection(candidates: DataFrame, vecCol: String,
      poleA: Array[Double], poleB: Array[Double]): DataFrame = {
    val dim = poleA.length
    val axisRaw = poleA.zip(poleB).map { case (a, b) => a - b }
    val norm = math.sqrt(axisRaw.map(x => x * x).sum)
    val axis = axisRaw.map(_ / (if (norm == 0.0) 1.0 else norm))
    val mid = poleA.zip(poleB).map { case (a, b) => (a + b) / 2.0 }
    val axisC = VectorOps.vecLit(axis.toSeq)
    val midC = VectorOps.vecLit(mid.toSeq)
    val centered = VectorOps.sub(col(vecCol), midC)
    val halfLen = norm / 2.0
    candidates
      .withColumn("position",
        VectorOps.dot(centered, axisC) / lit(if (halfLen == 0.0) 1.0 else halfLen))
      .withColumn("direction",
        when(col("position") > 0.3, "toward_a")
          .when(col("position") < -0.3, "toward_b")
          .otherwise("neutral"))
      .withColumn("orthogonal_distance",
        sqrt(greatest(
          VectorOps.dot(centered, centered) -
            pow(VectorOps.dot(centered, axisC), 2), lit(0.0))))
  }

  /** A11: vocabulary value scores — per relationship type: edge count,
    * bridging count (distinct endpoint concepts), mean confidence, usage
    * share, and the composite value score (vocabulary_scoring.py:146-611,
    * condensed to its load-bearing signals). */
  def vocabularyValueScores(edges: DataFrame): DataFrame = {
    edges
      .groupBy(col("rel_type"))
      .agg(
        count(lit(1)).as("edge_count"),
        countDistinct(col("src")).as("distinct_sources"),
        countDistinct(col("dst")).as("distinct_targets"),
        avg(coalesce(col("confidence"), lit(1.0))).as("mean_confidence"))
      .withColumn("bridge_count", col("distinct_sources") + col("distinct_targets"))
      .withColumn("usage_share",
        col("edge_count") / sum(col("edge_count")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("value_score", round(
        mmSaturation(col("edge_count") / lit(10.0), 2.0) * lit(0.4) +
          mmSaturation(col("bridge_count") / lit(20.0), 2.0) * lit(0.3) +
          col("mean_confidence") * lit(0.3), 6))
  }

  /** A13: epistemic status classification of relationship types from
    * sampled grounding stats (epistemic_status_service.py:1-50). */
  def epistemicStatus(perType: DataFrame, avgCol: String, nCol: String): DataFrame =
    perType.withColumn("epistemic_status",
      when(col(nCol) < 3, "INSUFFICIENT_DATA")
        .when(col(avgCol) > 0.8, "WELL_GROUNDED")
        .when(col(avgCol) < -0.5, "CONTRADICTED")
        .when(col(avgCol) >= 0.0, "PARTIALLY_GROUNDED")
        .otherwise("WEAKLY_CONTRADICTED"))
}
