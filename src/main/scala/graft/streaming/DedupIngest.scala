package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import graft.core.SnapshotStore
import graft.dedup.Dedup

/** Streaming dedup-on-ingest: the composition of the streaming ingest
  * loop (S1), incremental exact dedup, and the versioned snapshot store —
  * each micro-batch admits only globally-unseen documents and advances
  * two SnapshotStore tables, `docsTable` (admitted rows) and `indexTable`
  * (the fingerprint index, one short row per admitted doc ever).
  *
  * This is the corpus-building write path at 100 TB: the accumulated
  * corpus is NEVER re-read — each batch's cost is the batch itself plus
  * the fingerprint anti-join (see [[Dedup.dedupAgainstIndex]]); the
  * reference runs the same check per uploaded document via its
  * content-hash lookup (api/app/services/content_hasher.py), here it is
  * one set-oriented job per micro-batch.
  *
  * EXACTLY-ONCE: foreachBatch is at-least-once, and the batch performs
  * TWO appends that cannot be one atomic commit. Both ride
  * [[SnapshotSink.appendBatch]]'s batch-id idempotence (`_batch_id`
  * stamped into the rows, checked on replay), ordered docs-first —
  * deliberately. A crash between the appends replays the batch against an
  * index that does NOT yet contain this batch's fingerprints, so the
  * anti-join re-derives the identical fresh set (replayable-source
  * contract + pinned index version); the docs append then skips on its
  * committed batch id and only the index catches up. The reverse order
  * would poison the replay: fingerprints already committed to the index
  * would filter the admitted rows out of `fresh` BEFORE they ever reached
  * the docs table — silent loss, not duplication. The reference gets the
  * same guarantee from one Postgres transaction
  * (api/app/services/job_queue.py); here the atomic unit is a store
  * version commit, so idempotence replaces atomicity across the pair.
  */
final class DedupIngest(spark: SparkSession, store: SnapshotStore,
    docsTable: String = "docs", indexTable: String = "fp_index") {

  /** Process ONE micro-batch exactly-once. Public so the crash-replay
    * contract is directly testable: re-invoking with the same `batchId`
    * (any prefix of the two appends already committed) must add zero new
    * docs and zero new index rows. */
  def processBatch(batch: DataFrame, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    // The index is appended LAST, so its committed batch id implies the
    // docs append committed too: a replay of a fully-committed batch
    // (crash between sink success and checkpoint write) skips everything,
    // anti-join included.
    if (SnapshotSink.lastBatchId(store, indexTable).exists(_ >= batchId)) return
    // Lazy outputs over ONE pinned index version: the docs append cannot
    // move what the index append's anti-join reads.
    val ix = store.latestVersion(indexTable).map(store.readAt(indexTable, _))
    val (fresh, delta) = Dedup.dedupAgainstIndex(batch, idCol, textCol, ix)
    SnapshotSink.appendBatch(store, docsTable, fresh, batchId)
    SnapshotSink.appendBatch(store, indexTable, delta, batchId)
    ()
  }

  def start(docsStream: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        processBatch(batch.toDF(), id, idCol, textCol)
      }
      .start()

  /** Admitted corpus so far; None until the first batch admits rows.
    * `_batch_id` is sink bookkeeping, not document data — dropped. */
  def corpus(): Option[DataFrame] =
    store.latestVersion(docsTable).map(_ => store.read(docsTable).drop("_batch_id"))
}
