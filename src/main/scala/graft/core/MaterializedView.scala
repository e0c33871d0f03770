package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally maintained materialized aggregate over a snapshot-store
  * table — the composition of the store's change feed and
  * [[Incremental]]: each `refresh` folds ONLY the change sets recorded
  * after the view's horizon (`changesSince`, epoch column `_version`) into
  * the maintained `groupBy(key).agg(count, sum(val))` and commits the
  * result as the view table's next version.
  *
  * The horizon rides INSIDE the committed view rows (constant
  * `_up_to_version` column), so "which source versions are folded in" and
  * the folded result are one atomic version commit — a crash between
  * refreshes can never double-fold a delta (the same carrier trick as
  * `streaming.SnapshotSink`'s `_batch_id`). Cost per refresh is
  * O(delta) + O(groups), never a source re-scan: at 100 TB with a 10 GB
  * daily delta, the rollup trickles instead of recomputing (the reference
  * recomputes its cached scores from scratch on every epoch advance,
  * grounding.py:55-68 — this is the scale-correct replacement).
  *
  * Contract: the source is maintained by `append` / `SnapshotSink` /
  * `delete`. Deletes fold INCREMENTALLY: the change-data feed tags each
  * recorded row insert/delete, and [[Incremental.advanceSigned]]
  * retracts a deleted row's exact (count, DECIMAL sum) contribution — a
  * delete costs O(its rows), never a source re-scan. Bare-commit
  * REWRITES record nothing; `refresh` detects them
  * (`nonFeedMutationsSince`) and falls back to ONE full recompute from
  * the current snapshot rather than silently staling (compactions are
  * content-neutral and ignored). A view lagging BELOW the source's
  * vacuum horizon (its deltas reclaimed) BOOTSTRAPS: refolds the oldest
  * retained snapshot + retained deltas from empty
  * (`SnapshotStore.changeFeedBootstrap`) instead of refusing — bounded
  * by the retained bytes. The view table is written only by this
  * maintainer.
  */
object MaterializedView {

  /** Commit-props key carrying the view's horizon. The horizon used to
    * ride ONLY inside the committed rows (`_up_to_version`), which loses
    * it the moment a fold retracts every group (a delete can legally
    * empty the view — found by the randomized schedule differential:
    * max-over-empty read NULL and the next refresh crashed). Commit
    * props are written inside the version directory before the data, so
    * the props carrier is exactly as atomic as the row carrier. */
  val HorizonProp = "graft.view.up_to_version"

  /** The maintained view's queryable rows: (key, n, total). */
  def read(store: SnapshotStore, viewTable: String): DataFrame =
    store.read(viewTable).drop("_up_to_version")

  /** A refresh lost the head CAS to a concurrent maintainer: its fold is
    * stale by construction. Re-run the refresh; never retry the commit. */
  final class ConcurrentMaintainerException(msg: String)
    extends IllegalStateException(msg)

  /** [[horizon]] pinned to an explicit view version — what the guarded
    * refresh derives its fold from, so horizon and CAS expectation are
    * one consistent read. */
  private[core] def horizonAt(store: SnapshotStore, viewTable: String,
      v: Long): Long =
    store.commitProps(viewTable, v).get(HorizonProp) match {
      case Some(s) => s.toLong
      case None =>
        store.readAt(viewTable, v).agg(max(col("_up_to_version")))
          .head().getLong(0)
    }

  /** Source version the view has folded through (None = never refreshed).
    * Reads the commit-props carrier; pre-r12 views fall back to the row
    * carrier (those can't be empty — the unsigned fold never retracted). */
  def horizon(store: SnapshotStore, viewTable: String): Option[Long] =
    store.latestVersion(viewTable).map(horizonAt(store, viewTable, _))

  /** Fold all unseen change sets of `srcTable` into the view; returns the
    * new horizon. No-op (no new version committed) when the source has
    * recorded nothing past the current horizon — refresh is idempotent.
    *
    * SINGLE-MAINTAINER ENFORCED (not convention): the refresh captures
    * the view's head version once, derives its horizon from exactly that
    * version, and commits through [[SnapshotStore.commitIfHead]] — a CAS
    * conditioned on the head being UNMOVED. Two racing refreshers both
    * fold from horizon H; exactly one wins per horizon, the loser's
    * candidate is discarded unexposed and it throws
    * [[ConcurrentMaintainerException]] (its whole fold was computed from
    * a now-superseded view state — retrying the REFRESH is the caller's
    * correct recovery, retrying the commit is not). */
  def refresh(store: SnapshotStore, srcTable: String, viewTable: String,
      keyCol: String, valCol: String): Option[Long] = {
    val viewHead = store.latestVersion(viewTable)
    val h = viewHead.map(horizonAt(store, viewTable, _))
    val since = h.getOrElse(0L)
    def commitView(rows: DataFrame, newHorizon: Long): Option[Long] =
      store.commitIfHead(viewTable, rows, viewHead,
        Map(HorizonProp -> newHorizon.toString)) match {
        case Some(_) => Some(newHorizon)
        case None => throw new ConcurrentMaintainerException(
          s"view $viewTable moved past ${viewHead.getOrElse(0L)} during " +
            "refresh — a concurrent maintainer committed; re-run refresh " +
            "from the new horizon")
      }
    // One signed fold of a change feed: a delete image retracts (-1),
    // every other image adds (+1).
    def foldFeed(state: Option[Incremental.MaintainedAgg], feed: DataFrame) =
      Incremental.advanceSigned(state, feed.withColumn("_sign",
          when(col("_change_type") === "delete", lit(-1)).otherwise(lit(1))),
        keyCol, valCol, "_version", "_sign")
    def commitFold(advanced: Incremental.MaintainedAgg): Option[Long] =
      commitView(
        advanced.agg.withColumn("_up_to_version", lit(advanced.upToEpoch)),
        advanced.upToEpoch)
    def recomputeFromSnapshot(): Option[Long] = {
      val v = store.latestVersion(srcTable).getOrElse(return h)
      val full = Incremental.recompute(store.read(srcTable), keyCol, valCol)
      commitView(full.withColumn("_up_to_version", lit(v)), v)
    }
    if (since < store.vacuumHorizon(srcTable)) {
      // The view lags BELOW the source's vacuum horizon: deltas in
      // (since, horizon] are gone, so the maintained state's overlap with
      // retained history is unknowable and the state itself is unusable
      // — that information was vacuumed. BOOTSTRAP instead of refusing:
      // refold the source's oldest retained snapshot (emitted as insert
      // images) + every retained delta FROM EMPTY, landing exactly on
      // the maintained aggregate at the head — bounded by the retained
      // bytes, and the same signed-fold code path as a normal refresh.
      // (Bare rewrites among retained history still prefer the one
      // recompute — it reads only the NEW bytes; and schema-changing
      // rewrites have no feed images at all.)
      val b = store.oldestFeedVersion(srcTable)
      if (store.nonFeedMutationsSince(srcTable, b).nonEmpty)
        recomputeFromSnapshot()
      else {
        val advanced = foldFeed(None, store.changeFeedBootstrap(srcTable))
        // An EMPTY bootstrap frame is NOT "nothing changed" (the normal
        // branch's meaning): here the old state is unusable by
        // construction, so an empty frame means the table IS empty at
        // the head (empty oldest-retained snapshot, no deltas) — a view
        // still serving its pre-horizon aggregate would be permanently
        // stale. Recompute from the (empty) snapshot, which commits the
        // empty aggregate under the head horizon.
        if (advanced.upToEpoch == Long.MinValue) recomputeFromSnapshot()
        else commitFold(advanced)
      }
    } else if (store.nonFeedMutationsSince(srcTable, since).nonEmpty) {
      // A rewrite's effect is not in any feed: recompute ONCE from the
      // current snapshot, horizon = the snapshot's version (later change
      // sets have strictly greater versions).
      recomputeFromSnapshot()
    } else {
      val state = h.map(v => Incremental.MaintainedAgg(v, read(store, viewTable)))
      val advanced = foldFeed(state, store.changeFeedSince(srcTable, since))
      // Nothing new (or a first refresh over a source with no change sets
      // yet): keep the current version — never commit an empty horizonless
      // view. Long.MinValue is Incremental's "no rows folded" sentinel.
      if (h.contains(advanced.upToEpoch) || advanced.upToEpoch == Long.MinValue) h
      else commitFold(advanced)
    }
  }
}
