package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.SnapshotStore

/** Exactly-once streaming append into a snapshot-store table.
  *
  * Structured Streaming's foreachBatch is at-least-once: after a sink-side
  * crash the engine replays the last micro-batch, and a bare
  * `store.append` would double-append it. The fix is the idempotent-write
  * idiom lake formats use (Delta's txnAppId/txnVersion riding inside the
  * commit): the micro-batch id is recorded as the commit property
  * [[BatchIdProp]] in every version the batch writes, and stays in the
  * appended rows as a `_batch_id` column, so batch data and the "this
  * batch is committed" record are one atomic version commit — there is
  * no window where one exists without the other. On replay, the last
  * committed batch id is read from the newest versions' `_props.json`
  * (file reads, no Spark job) and the batch is skipped.
  *
  * Deltas go to the store as lazy plans: it writes each once and drops an
  * empty one, so nothing here checkpoints or probes a batch.
  *
  * Contract: the table is written only through this sink (another
  * writer's deltas record no batch id, and each one on top costs the
  * replay check a change-set scan); batch ids are monotone per
  * checkpoint, which Structured Streaming guarantees. The reference's job
  * queue gets the same effect from Postgres transactions
  * (api/app/services/job_queue.py); here the atomic unit is the store's
  * version commit.
  */
object SnapshotSink {

  /** The reserved commit property that records the batch id a version
    * committed (`graft.*` keys are not user-settable, and a rewrite does
    * not carry them). */
  val BatchIdProp: String = "graft.sink.batch_id"

  /** Highest batch id this sink has committed to `table` (None for an
    * empty or never-sink-written table). Batch ids are monotone, so the
    * NEWEST version that records one is authoritative. The walk goes
    * newest-first over `history(table)`:
    *  - a version whose commit properties carry [[BatchIdProp]] answers,
    *    with no Spark job;
    *  - a version without it but with a change set (written before the
    *    property existed) answers with the `max(_batch_id)` of its change
    *    set, unless that is null (a zero-row change set of an empty
    *    micro-batch) — then the walk goes on rather than degrading the
    *    replay check to None;
    *  - a rewrite (compaction) carries neither and is skipped.
    * Never a snapshot scan: the walk stops at the first version that
    * names an id. */
  def lastBatchId(store: SnapshotStore, table: String): Option[Long] =
    store.history(table).reverseIterator.map { v =>
      store.commitProps(table, v).get(BatchIdProp).map(_.toLong).orElse(
        store.changesAt(table, v)
          .filter(_.columns.contains("_batch_id"))
          .flatMap(df => Option(df.agg(max(col("_batch_id"))).head().get(0))
            .map(_.asInstanceOf[Long])))
    }.collectFirst { case Some(id) => id }

  /** Append one micro-batch idempotently: [[appendAllBatch]] over one
    * table. True iff the batch was new (false = replay, skipped); an empty
    * batch commits nothing. Public so the replay contract is directly
    * testable without crashing a query. */
  def appendBatch(store: SnapshotStore, table: String,
      batch: DataFrame, batchId: Long): Boolean =
    appendAllBatch(store, Map(table -> batch), batchId)

  /** Run a stream into `table` exactly-once. Plain foreachBatch
    * composition — checkpointing, triggers, and restart semantics are the
    * caller's writeStream options, as with any Spark sink. */
  def start(stream: DataFrame, store: SnapshotStore, table: String,
      checkpointLocation: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        appendBatch(store, table, batch.toDF(), id)
        ()
      }
      .start()

  /** MULTI-TABLE exactly-once: one micro-batch split into several tables'
    * deltas, committed at ONE point via [[SnapshotStore.appendAll]]'s
    * write-ahead intent — the streaming twin of the reference's
    * ingestion transaction (concepts + instances + sources land together,
    * ingestion.py:31-152). The `_batch_id` evidence therefore lands in
    * EVERY participating table atomically: a crash between the intent
    * and the pointer moves rolls the whole batch forward on recovery, a
    * crash before it exposes nothing, and the replay check (ANY table's
    * last id ≥ this id — tables whose split was empty for a batch carry
    * no evidence for it) can never see half a batch. The batch id rides
    * into every candidate's commit properties ([[BatchIdProp]], through
    * the store's prepare step, which writes the tables side by side) and
    * into every row's `_batch_id`; a candidate relinked onto a sibling's
    * commit keeps both, so the replay check reads it with no Spark job.
    * Returns true iff the batch was new. */
  def appendAllBatch(store: SnapshotStore, split: Map[String, DataFrame],
      batchId: Long): Boolean = {
    require(split.nonEmpty, "appendAllBatch requires at least one table")
    // Pending-txn roll-forward BEFORE the replay check: a crash after the
    // intent means the batch IS committed (recovery completes it), but
    // the pointers may not have moved yet — a stale check here would
    // re-append a committed batch, exactly the double the sink exists to
    // prevent.
    store.recoverPendingTxns()
    val replay = split.keys.exists(t =>
      lastBatchId(store, t).exists(_ >= batchId))
    if (!replay) {
      val rows = split.map { case (t, df) =>
        t -> df.withColumn("_batch_id", lit(batchId)) }
      store.appendAllCommit(
        store.appendAllPrepare(rows, Map(BatchIdProp -> batchId.toString)), rows)
    }
    !replay
  }

  /** Run a stream into several tables exactly-once: `split` projects each
    * micro-batch into per-table deltas (e.g. an extraction batch into
    * concepts + edges), all committed at one transactional point. */
  def startAll(stream: DataFrame, store: SnapshotStore,
      split: DataFrame => Map[String, DataFrame],
      checkpointLocation: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        appendAllBatch(store, split(batch.toDF()), id)
        ()
      }
      .start()
}
