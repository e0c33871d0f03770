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
  * EXACTLY-ONCE: foreachBatch is at-least-once, so the batch commits
  * both tables in ONE [[SnapshotSink.appendAllBatch]] — one `_txn/`
  * intent over the two deltas, with the batch id recorded in both. A
  * crash before the intent exposes nothing and the replay re-derives the
  * same fresh set against the same index; a crash after it rolls the
  * whole batch forward, and the replay skips on the committed batch id.
  * The reference gets the same guarantee from one Postgres transaction
  * (api/app/services/job_queue.py).
  */
final class DedupIngest(spark: SparkSession, store: SnapshotStore,
    docsTable: String = "docs", indexTable: String = "fp_index") {

  /** Process ONE micro-batch exactly-once. Public so the crash-replay
    * contract is directly testable: re-invoking with the same `batchId`
    * after a committed batch must add zero new docs and zero new index
    * rows. */
  def processBatch(batch: DataFrame, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    // Lazy outputs over ONE pinned index version, taken after any crashed
    // batch's intent rolled forward so its fingerprints count.
    store.recoverPendingTxns()
    val ix = store.latestVersion(indexTable).map(store.readAt(indexTable, _))
    val (fresh, delta) = Dedup.dedupAgainstIndex(batch, idCol, textCol, ix)
    SnapshotSink.appendAllBatch(store, Map(docsTable -> fresh, indexTable -> delta),
      batchId)
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
