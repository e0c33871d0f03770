package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's registered queries; each key
  * has (where SQL-expressible) a DuckDB oracle in `oracleSql`. Query modules:
  *  - [[RelationalQueries]] — scans/filters/joins/aggs/windows/topk/setops
  *  - [[GraphQueries]]      — BFS/shortest-path/degree/subgraph on an edge view
  *  - [[VectorQueries]]     — cosine top-k, kNN join, centroids, polarity
  *  - [[TextQueries]]       — tokens, quality, lang-id, fingerprint, TF-IDF
  *  - [[DedupQueries]]      — exact/minhash/simhash/jaccard near-dup
  *  - [[PipelineQueries]]   — sessionization, multimodal plumbing, chunking
  */
object SparkEntry {

  private def modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (RelationalQueries.queries, RelationalQueries.oracles),
      (GraphQueries.queries, GraphQueries.oracles),
      (VectorQueries.queries, VectorQueries.oracles),
      (TextQueries.queries, TextQueries.oracles),
      (DedupQueries.queries, DedupQueries.oracles),
      (PipelineQueries.queries, PipelineQueries.oracles),
      (ScoringQueries.queries, ScoringQueries.oracles),
      (SamplingQueries.queries, SamplingQueries.oracles),
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The reference's flagship lifecycle (§3.1 + §3.2 composed,
    * queries.py:529-860,1306-1416) end-to-end: build a knowledge graph from
    * the testdata (concepts = embedding rows, semantic edges = top-2
    * nearest neighbors typed by a 10-type vocabulary whose embeddings are
    * the label centroids), then V1 top-k search → T1 depth-2 neighborhood
    * of the top hit → A5 grounding + A4 confidence hydration of the
    * result set. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    import graft.similarity.Ann
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(concat(lit("c"), col("vec_id")).as("concept_id"),
        concat(lit("label"), col("label")).as("label"),
        col("embedding").cast("array<double>").as("embedding"),
        col("vec_id"), col("label").as("label_id"))

    // vocabulary: 10 types, embeddings = the 10 label centroids
    val vocabNames = Seq("SUPPORTS", "CONTRADICTS", "VALIDATES", "REFUTES",
      "CONFIRMS", "DISPROVES", "REINFORCES", "OPPOSES", "ENABLES", "PREVENTS")
    val centroids = emb
      .select(col("label_id"), posexplode(col("embedding")))
      .groupBy(col("label_id"), col("pos")).agg(avg(col("col")).as("v"))
      .groupBy(col("label_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(col("label_id"), transform(col("pv"), e => e.getField("v")).as("embedding"))
    val vocabDf = centroids
      .withColumn("relationship_type",
        element_at(array(vocabNames.map(lit): _*), col("label_id") + 1))
      .select(col("relationship_type"), col("embedding"))

    // semantic edges: each concept's 2 nearest neighbors, typed by a hash
    // of the pair. A concept scores cosine 1 against itself, so its top 3
    // holds its self-match; dropping that leaves the 2 neighbors.
    val edges = Ann.topKJoin(
        emb.select(col("concept_id"), col("embedding")), "concept_id", "embedding",
        emb.select(col("concept_id").as("qid"), col("embedding").as("qv"),
          col("vec_id").as("q_vec")), "qid", "qv", k = 3)
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id").as("src"), col("corpus_id").as("dst"),
        element_at(array(vocabNames.map(lit): _*),
          (abs(hash(col("query_id"), col("corpus_id"))) % 10 + 1).cast("int"))
          .as("rel_type"),
        round(col("sim"), 6).as("confidence"))

    val kg = KnowledgeGraph(spark,
      concepts = emb.select("concept_id", "label", "embedding"),
      edges = edges,
      evidence = edges.select(col("src").as("concept_id"),
        concat(lit("s"), col("dst")).as("source_id")),
      instances = edges.select(col("src").as("instance_id"),
        col("src").as("concept_id"), col("rel_type").as("quote")),
      vocab = vocabDf)

    // V1: search with the first embedding as the query vector
    val queryVec = emb.where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Double](0)
    val topHit = kg.search(queryVec, limit = 1).head().getAs[String]("concept_id")

    // T1 + A5 + A4: neighborhood of the top hit, hydrated with scores
    kg.related(topHit, maxDepth = 2)
      .join(kg.grounding(), Seq("concept_id"), "left")
      .join(kg.confidence().select(col("concept_id"), col("confidence_score"),
        col("confidence_level")), Seq("concept_id"), "left")
      .select(col("concept_id"), col("label"), col("distance"),
        round(col("grounding_strength"), 6).as("grounding_strength"),
        round(col("confidence_score"), 6).as("confidence_score"),
        col("confidence_level"))
      .orderBy(col("distance"), col("concept_id"))
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_._1).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_._2).toMap
}
