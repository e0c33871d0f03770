package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps

/** Batch ingest pipeline (reference §3.3-bonus lifecycle,
  * api/app/lib/ingestion.py:380-560): chunk → extract → two-tier
  * match-or-create → instance dedup → edge append → epoch record.
  *
  * Everything is set-oriented: the reference's per-concept
  * search-then-decide loop (ingestion.py:432-507) becomes one scored join +
  * window over ALL candidates at once, so ingesting 10⁹ chunks is the same
  * plan as 10². Batch-first; `foreachBatch` wraps the same function for
  * Structured Streaming ingestion (§2.12).
  */
object IngestPipeline {

  final case class IngestResult(
      concepts: DataFrame,   // updated concept table
      instances: DataFrame,  // updated instance table
      edges: DataFrame,      // updated edge table
      epochLog: DataFrame,   // appended epoch log
      matchedCount: Long,    // candidates resolved to existing concepts
      createdCount: Long)    // newly created concepts

  /** One batch's DELTAS against the existing tables — what a store-backed
    * ingest commits atomically ([[ingestBatchToStore]]); [[ingestBatch]]
    * composes the full updated tables from the same frames. */
  final case class IngestDeltas(
      newConcepts: DataFrame,
      newInstances: DataFrame,
      newEdges: DataFrame,
      epochRecord: DataFrame,
      matchedCount: Long,
      createdCount: Long)

  /** V3 two-tier matching: a candidate matches an existing concept when
    * top-similarity ≥ 0.85, or ≥ 0.75 with normalized-label equality or
    * containment; otherwise it becomes a new concept
    * (ingestion.py:432-507, concept_matcher.py:50-80). Returns the
    * candidate table with a `resolved_id` column. */
  def twoTierMatch(candidates: DataFrame, existing: DataFrame): DataFrame = {
    if (existing.isEmpty) {
      return candidates.withColumn("resolved_id", col("concept_id"))
        .withColumn("matched", lit(false))
    }
    val ex = existing.select(
      col("concept_id").as("ex_id"),
      lower(trim(col("label"))).as("ex_label"),
      col("embedding").cast("array<double>").as("ex_emb"))
    val scored = candidates
      .withColumn("cand_emb", col("embedding").cast("array<double>"))
      .withColumn("cand_label", lower(trim(col("label"))))
      .join(ex, VectorOps.cosine(col("cand_emb"), col("ex_emb")) >= 0.75, "left")
      .withColumn("sim", VectorOps.cosine(col("cand_emb"), col("ex_emb")))
    val w = Window.partitionBy(col("concept_id"))
      .orderBy(col("sim").desc_nulls_last, col("ex_id").asc_nulls_last)
    scored
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .withColumn("label_match",
        col("ex_label").isNotNull && (col("cand_label") === col("ex_label") ||
          col("cand_label").contains(col("ex_label")) ||
          col("ex_label").contains(col("cand_label"))))
      .withColumn("matched",
        col("sim").isNotNull && (col("sim") >= 0.85 ||
          (col("sim") >= 0.75 && col("label_match"))))
      .withColumn("resolved_id",
        when(col("matched"), col("ex_id")).otherwise(col("concept_id")))
      .drop("ex_id", "ex_label", "ex_emb", "cand_emb", "cand_label", "sim", "rn",
        "label_match")
  }

  /** Full batch: returns updated tables + counts. Epoch semantics: one
    * record per ingest batch with the batch row counts (M8). */
  def ingestBatch(
      spark: SparkSession,
      docs: DataFrame, // (doc_id: string, text: string)
      existingConcepts: DataFrame,
      existingInstances: DataFrame,
      existingEdges: DataFrame,
      epochLog: DataFrame,
      batchEpoch: Long): IngestResult = {
    val d = ingestDeltas(spark, docs, existingConcepts, existingInstances,
      existingEdges, batchEpoch)
    IngestResult(
      existingConcepts.unionByName(d.newConcepts, allowMissingColumns = true),
      existingInstances.unionByName(d.newInstances, allowMissingColumns = true),
      existingEdges.unionByName(d.newEdges, allowMissingColumns = true),
      epochLog.unionByName(d.epochRecord, allowMissingColumns = true),
      d.matchedCount, d.createdCount)
  }

  /** The batch's computation, delta-shaped (see [[IngestDeltas]]). */
  def ingestDeltas(
      spark: SparkSession,
      docs: DataFrame, // (doc_id: string, text: string)
      existingConcepts: DataFrame,
      existingInstances: DataFrame,
      existingEdges: DataFrame,
      batchEpoch: Long): IngestDeltas = {
    import spark.implicits._

    // S2 chunk + S4 extract, fanned out in executors
    val extractions = docs.select(col("doc_id").cast("string"), col("text"))
      .as[(String, String)]
      .flatMap { case (docId, text) =>
        Chunker.chunk(text, minWords = 20, maxWords = 60, overlapWords = 5)
          .map(c => (docId, c.text))
      }
      .flatMap { case (docId, chunkText) =>
        val e = MockExtractor.extract(docId, chunkText)
        e.concepts.map(c => ("concept", c.conceptId, c.label, c.embedding.toSeq, "", 0.0)) ++
          e.instances.map(i => ("instance", i.conceptId, "", Seq.empty[Float], i.quote, 0.0)) ++
          e.relationships.map(r =>
            ("rel", r.from, r.to, Seq.empty[Float], r.relType, r.confidence))
      }
      .toDF("kind", "a", "b", "emb", "s", "conf")
      .persist()

    val candidates = extractions.where($"kind" === "concept")
      .select($"a".as("concept_id"), $"b".as("label"), $"emb".cast("array<float>").as("embedding"))
      .dropDuplicates("concept_id")

    // Intra-batch consolidation: the reference's sequential loop matches
    // each candidate against concepts created EARLIER IN THE SAME BATCH
    // (ingestion.py:432-507 runs per chunk). Set-oriented equivalent:
    // unmatched candidates sharing a normalized label collapse to the
    // smallest candidate id. (At 100 TB a near-dup consolidation would add
    // an LSH bucket + connected components; exact-label is the mock
    // extractor's invariant since embeddings derive from labels.)
    val matched0 = twoTierMatch(candidates, existingConcepts)
      .select($"concept_id", $"resolved_id", $"matched", $"label", $"embedding")
    val batchCanon = Window.partitionBy(lower(trim($"label")))
    val resolved = matched0
      .withColumn("canonical_id",
        when($"matched", $"resolved_id")
          .otherwise(min(when(!$"matched", $"resolved_id")).over(batchCanon)))
      .drop("resolved_id")
      .withColumnRenamed("canonical_id", "resolved_id")
      .persist()

    val idMap = resolved.select($"concept_id".as("orig_id"), $"resolved_id")

    // M1: create only unmatched concepts (MERGE semantics), one per
    // consolidated id
    val newConcepts = resolved.where(!$"matched" && $"concept_id" === $"resolved_id")
      .select($"resolved_id".as("concept_id"), $"label", $"embedding")
      .withColumn("created_at_epoch", lit(batchEpoch))

    // M3: instance dedup by (quote, concept)
    val candInstances = extractions.where($"kind" === "instance")
      .select($"a".as("orig_id"), $"s".as("quote"))
      .join(idMap, "orig_id")
      .select($"resolved_id".as("concept_id"), $"quote")
      .dropDuplicates("concept_id", "quote")
    val newInstances = candInstances
      .join(existingInstances.select("concept_id", "quote"),
        Seq("concept_id", "quote"), "left_anti")
      .withColumn("created_at_event_id", lit(batchEpoch))

    // M2: relationship append through the resolved-id map (both endpoints)
    val fromMap = idMap.toDF("orig_from", "src")
    val toMap = idMap.toDF("orig_to", "dst")
    val newEdges = extractions.where($"kind" === "rel")
      .select($"a".as("orig_from"), $"b".as("orig_to"),
        $"s".as("rel_type"), $"conf".as("confidence"))
      .join(fromMap, "orig_from").join(toMap, "orig_to")
      .select($"src", $"dst", $"rel_type", $"confidence")
      .dropDuplicates("src", "dst", "rel_type")
      .withColumn("created_at", lit(batchEpoch))

    // M8: epoch record
    val matchedCount = resolved.where($"matched").count()
    val createdCount = resolved.where(!$"matched" && $"concept_id" === $"resolved_id").count()
    val record = Seq((batchEpoch, "ingestion", "graft",
        matchedCount, createdCount)).toDF(
      "event_id", "kind", "actor", "matched_concepts", "created_concepts")

    extractions.unpersist()
    IngestDeltas(newConcepts, newInstances, newEdges, record,
      matchedCount, createdCount)
  }

  /** Empty frames with the ingest tables' birth schemas — what a first
    * batch reads as "existing" before the store tables exist. */
  private def emptyState(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "concepts" -> Seq.empty[(String, String, Array[Float], Long)]
        .toDF("concept_id", "label", "embedding", "created_at_epoch"),
      "instances" -> Seq.empty[(String, String, Long)]
        .toDF("concept_id", "quote", "created_at_event_id"),
      "edges" -> Seq.empty[(String, String, String, Double, Long)]
        .toDF("src", "dst", "rel_type", "confidence", "created_at"),
      "epoch_log" -> Seq.empty[(Long, String, String, Long, Long)]
        .toDF("event_id", "kind", "actor", "matched_concepts",
          "created_concepts"))
  }

  /** The four ingest tables at ONE transactionally consistent cut
    * ([[graft.core.SnapshotStore.snapshotPresent]]); tables that do not
    * exist yet read as their empty birth schema. */
  private def storeState(spark: SparkSession, store: graft.core.SnapshotStore,
      prefix: String): Map[String, DataFrame] =
    storeStateWithCut(spark, store, prefix)._1

  /** The matcher state AND the cut it was read at — (table → version,
    * None = table absent), the READ SET the serialized commit validates. */
  private def storeStateWithCut(spark: SparkSession,
      store: graft.core.SnapshotStore, prefix: String)
      : (Map[String, DataFrame], Map[String, Option[Long]]) = {
    val empties = emptyState(spark)
    val names = empties.keys.map(t => prefix + t).toSeq
    val cut = store.snapshotPresent(names)
    val state = empties.map { case (role, empty) =>
      role -> cut.get(prefix + role)
        .map(v => store.readAt(prefix + role, v)).getOrElse(empty)
    }
    (state, names.map(t => t -> cut.get(t)).toMap)
  }

  /** The batch's four deltas keyed by store table — the one delta map
    * every store entry point commits. */
  private def deltaTables(d: IngestDeltas, prefix: String)
      : Map[String, DataFrame] = Map(
    prefix + "concepts" -> d.newConcepts,
    prefix + "instances" -> d.newInstances,
    prefix + "edges" -> d.newEdges,
    prefix + "epoch_log" -> d.epochRecord)

  /** [[deltaTables]] as a batch commit takes it: each delta checkpointed
    * — the multi-table append evaluates it twice (data + change set), and
    * the extraction plan must not recompute against moved state between
    * the two — and the empty ones dropped. */
  private def committableDeltas(d: IngestDeltas, prefix: String)
      : Map[String, DataFrame] =
    deltaTables(d, prefix)
      .map { case (t, df) => t -> df.localCheckpoint(true) }
      .filter { case (_, df) => !df.isEmpty }

  /** STORE-BACKED ATOMIC INGEST — the reference's ingestion transaction
    * end to end (concepts + instances + sources + epoch written in ONE
    * Postgres tx, api/app/lib/age_client/ingestion.py:31-152): the
    * existing state is ONE consistent multi-table cut (`snapshotAll` —
    * matching never races half a sibling ingest), and the batch's four
    * deltas commit at ONE `appendAll` intent point — a reader can never
    * observe this batch's edges without its concepts, whatever crashes.
    * Returns the committed version per table (empty deltas commit
    * nothing; the epoch record always commits).
    *
    * ATOMIC BUT NOT SERIALIZABLE — single-ingester-per-content-domain
    * contract: `appendAll` validates no READ set, so two concurrent
    * ingesters whose batches overlap in content can both read a cut
    * lacking a concept and both create it — a duplicate the two-tier
    * match exists to prevent (the reference serializes this in one
    * Postgres transaction; the store's OCC serializes WRITES, not the
    * match-or-create read). Run ONE ingester per content domain (the
    * fuzz uses disjoint vocabularies for exactly this reason), the same
    * externally-enforced exclusivity [[graft.core.JoinMaterializedView]]
    * documents for its maintainer. Violations are not silent data loss —
    * they surface as duplicate concepts the consolidation pass
    * ([[graft.analysis.Consolidation]]) can merge after the fact. */
  def ingestBatchToStore(spark: SparkSession, store: graft.core.SnapshotStore,
      docs: DataFrame, batchEpoch: Long, tablePrefix: String = "")
      : Map[String, Long] = {
    val st = storeState(spark, store, tablePrefix)
    val d = ingestDeltas(spark, docs, st("concepts"), st("instances"),
      st("edges"), batchEpoch)
    val deltas = committableDeltas(d, tablePrefix)
    if (deltas.isEmpty) Map.empty else store.appendAll(deltas)
  }

  /** [[ingestBatchToStore]] under SERIALIZABLE match-or-create — closes
    * the single-ingester contract above for ingesters whose content
    * domains OVERLAP: the commit validates the READ SET (the concepts/
    * instances/edges cut the match ran against) through
    * [[graft.core.SnapshotStore.appendAllSerialized]]; a sibling commit
    * to any matched table between read and commit aborts the whole
    * batch, which then RE-READS the new cut, RE-MATCHES (now seeing the
    * sibling's concepts — match instead of create), and retries. Two
    * racers can no longer both create the same concept; the cost is one
    * re-extraction per lost race (the reference pays the same inside
    * Postgres serializable retries, ingestion.py:31-152). The epoch log
    * stays un-guarded — append-only bookkeeping relinks freely. */
  def ingestBatchToStoreSerialized(spark: SparkSession,
      store: graft.core.SnapshotStore, docs: DataFrame, batchEpoch: Long,
      tablePrefix: String = "", maxRetries: Int = 16): Map[String, Long] = {
    var attempt = 0
    while (attempt < maxRetries) {
      val (st, readSet0) = storeStateWithCut(spark, store, tablePrefix)
      val d = ingestDeltas(spark, docs, st("concepts"), st("instances"),
        st("edges"), batchEpoch)
      val deltas = committableDeltas(d, tablePrefix)
      if (deltas.isEmpty) return Map.empty
      store.appendAllSerialized(deltas,
        readSet0 - (tablePrefix + "epoch_log")) match {
        case Some(r) => return r
        case None => attempt += 1 // cut moved: re-read, re-match, retry
      }
    }
    throw new IllegalStateException(
      s"serialized ingest lost $maxRetries consecutive read-set " +
        "validations — pathological contention; raise maxRetries or " +
        "shard ingesters by content domain")
  }

  /** Streaming store-backed ingest, EXACTLY-ONCE: each micro-batch runs
    * [[ingestDeltas]] against the consistent cut and commits through
    * [[graft.streaming.SnapshotSink.appendAllBatch]] — the `_batch_id`
    * evidence lands in every touched table atomically, so an engine
    * replay after the worst-placed crash re-derives the deltas and then
    * SKIPS the commit. The store-transactional twin of [[StreamingIngest]]
    * (which maintains in-memory state for callers without a store). */
  def startStoreIngest(spark: SparkSession, store: graft.core.SnapshotStore,
      docsStream: DataFrame, checkpointLocation: String,
      tablePrefix: String = ""): org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val st = storeState(spark, store, tablePrefix)
        val d = ingestDeltas(spark, batch.toDF().localCheckpoint(true),
          st("concepts"), st("instances"), st("edges"),
          batchEpoch = batchId + 1)
        graft.streaming.SnapshotSink.appendAllBatch(store,
          deltaTables(d, tablePrefix), batchId)
        ()
      }
      .start()

  /** Structured-Streaming ingest (§2.12): each micro-batch of documents
    * runs the same [[ingestBatch]] via foreachBatch against mutable table
    * state — the streaming twin of the reference's job-queue workers
    * (api/app/services/job_queue.py). Returns the running query; caller
    * stops it. State is exposed through `currentState()` for inspection. */
  final class StreamingIngest(spark: SparkSession, initial: IngestResult) {
    @volatile private var state: IngestResult = initial
    def currentState(): IngestResult = state

    def start(docsStream: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
      docsStream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val s = state
          // localCheckpoint each table so state doesn't chain plans across
          // micro-batches (same lineage-truncation rule as the BFS loop)
          val r = ingestBatch(spark, batch.toDF(), s.concepts, s.instances,
            s.edges, s.epochLog, batchEpoch = batchId + 1)
          state = IngestResult(
            r.concepts.localCheckpoint(true),
            r.instances.localCheckpoint(true),
            r.edges.localCheckpoint(true),
            r.epochLog.localCheckpoint(true),
            r.matchedCount, r.createdCount)
          ()
        }
        .start()
  }
}
