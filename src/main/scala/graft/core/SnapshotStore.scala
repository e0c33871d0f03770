package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ParquetTableShim
import org.apache.spark.sql.types.{DataType, StructType}
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

/** Versioned parquet table store — the thin snapshot layer the epoch log
  * implies (reference M8, ADR-207: every read pins a committed snapshot;
  * schema/00_baseline.sql:2198-2240). No Delta/Iceberg is available
  * offline, so this is the minimal immutable-version design:
  *
  *   root/<table>/v=<n>/ …parquet…   — immutable version directories
  *   root/<table>/v=<n>/_base        — append chain: version this one EXTENDS
  *   root/<table>/v=<n>/_snapshot_schema.json — pinned snapshot schema
  *   root/<table>/_latest            — pointer file, updated by atomic rename
  *
  * A version is either SELF-CONTAINED (a `commit` rewrite: its directory
  * holds the whole snapshot, no `_base`) or a CHAIN LINK (an `append`: the
  * directory holds ONLY the appended delta, and `_base` names the version
  * it extends). `snapshot(n) = snapshot(base(n)) ∪ files(n)` — reading a
  * version assembles the base chain into one multi-directory parquet scan,
  * so an append writes O(delta) bytes however large the table is. The
  * alternative (union + full rewrite per append) is O(table) write
  * amplification per micro-batch — at warehouse scale every streaming
  * batch would rewrite the whole corpus, and N appends would write O(N²)
  * total. This is the same manifest idea Delta/Iceberg use, reduced to a
  * parent pointer: the "manifest" of v=n is its chain, and `compact`
  * collapses a long chain back into one self-contained version.
  *
  * Readers resolve the pointer ONCE and then hold an immutable directory
  * set, so a concurrent commit never mutates data under a running query —
  * exactly the snapshot-rewrite contract the mutation surface (M1-M7)
  * assumes. Old versions remain for time travel until `vacuum` (which
  * keeps every chain ancestor a kept version still references).
  */
final class SnapshotStore(spark: SparkSession, val root: String) {

  // Field-ID reads, armed once per store construction: pinned snapshot
  // schemas carry parquet.field.id metadata ([[SnapshotStore.FieldIdKey]])
  // and resolution must match file columns by ID — with the flag off,
  // Spark matches by NAME and a renamed column would silently read NULL
  // from pre-rename files (probed; SCALE.md, Round 15, field-ID renames).
  // Session-global but semantically a no-op for read schemas without IDs
  // (everything non-graft), so arming it here cannot change other reads.
  spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Pin a field ID on every top-level column: a field already carrying
    * one keeps it, IDs of columns sharing a name with `prev` carry over
    * (stability across rewrites), everything else MINTS a fresh random
    * ID. Random, not max+1: two OCC writers racing to add different
    * columns from the same base would both mint max+1 and collide — the
    * relink would then silently cross-wire the columns — while random
    * 31-bit draws from [2^20, Int.MaxValue) collide never in practice
    * for the handful of concurrent adds a table ever sees, and the
    * relink checks anyway. IDs are never reused within a schema
    * lineage, so a new
    * column can never inherit a dead column's physical data (the
    * ID-level resurrection guarantee). Parquet field ids are 32-bit
    * (ParquetUtils.getFieldId refuses wider), so draws come from
    * [2^20, Int.MaxValue) — ~2^31 values, collision-free in practice
    * for the handful of concurrent adds a table ever sees, and checked
    * at relink regardless. */
  private def withFieldIds(schema: StructType,
      prev: Option[StructType]): StructType = {
    val prevIds: Map[String, Long] = prev.toSeq.flatMap(_.fields)
      .flatMap(f => SnapshotStore.fieldIdOf(f).map(f.name.toLowerCase -> _))
      .toMap
    val taken = scala.collection.mutable.Set[Long]()
    taken ++= prevIds.valuesIterator
    taken ++= schema.fields.iterator.flatMap(SnapshotStore.fieldIdOf(_))
    def mint(): Long = {
      var id = 0L
      do id = java.util.concurrent.ThreadLocalRandom.current()
        .nextInt(1 << 20, Int.MaxValue).toLong
      while (taken.contains(id))
      taken += id; id
    }
    // IDs must be UNIQUE within the output schema: a DataFrame derived
    // from a graft read with one column projected twice (CTAS
    // `SELECT v AS x, v AS y` — Alias propagates field metadata) arrives
    // with the same ID on two columns, and committing it verbatim would
    // cross-wire every subsequent ID-matched read. First occurrence
    // keeps the ID; repeats mint fresh.
    val assigned = scala.collection.mutable.Set[Long]()
    StructType(schema.fields.map { f =>
      val id = SnapshotStore.fieldIdOf(f)
        .orElse(prevIds.get(f.name.toLowerCase))
        .filterNot(assigned.contains)
        .getOrElse(mint())
      assigned += id
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putLong(SnapshotStore.FieldIdKey, id).build())
    })
  }

  /** Field-ID stamping: when the pinned snapshot carries IDs, every
    * written column carries its ID into the parquet footer (Spark's
    * writer stamps fields whose metadata holds [[SnapshotStore.FieldIdKey]])
    * — the per-file half of the metadata-rename contract. A cheap alias
    * projection; columns the delta lacks simply aren't written (they
    * read null under the pinned schema, as ever). Every data-file write
    * path must route through this — commitWith's writes do, and so must
    * any direct write into a claimed version directory (the mutation
    * rebase path). */
  private def stampedWithIds(d: DataFrame, snapshot: StructType): DataFrame =
    if (!SnapshotStore.schemaHasFieldIds(snapshot)) d
    else {
      val byName = snapshot.fields.map(f => f.name.toLowerCase -> f).toMap
      d.select(d.columns.map { c =>
        byName.get(c.toLowerCase) match {
          case Some(f) => d.col(s"`$c`").as(c, f.metadata)
          case None => d.col(s"`$c`")
        }
      }.toIndexedSeq: _*)
    }

  private def tableDir(table: String): Path = Paths.get(root, table)
  private def versionDir(table: String, v: Long): Path =
    tableDir(table).resolve(s"v=$v")
  private def changesDir(table: String, v: Long): Path =
    versionDir(table, v).resolve("_changes")
  private def baseFile(table: String, v: Long): Path =
    versionDir(table, v).resolve("_base")
  private def schemaFile(table: String, v: Long): Path =
    versionDir(table, v).resolve("_snapshot_schema.json")
  private def propsFile(table: String, v: Long): Path =
    versionDir(table, v).resolve("_props.json")
  private def removedFileOf(table: String, v: Long): Path =
    versionDir(table, v).resolve("_removed.json")
  private def dvFileOf(table: String, v: Long): Path =
    versionDir(table, v).resolve("_dv.json")
  /** The head-pointer backend ([[HeadStore]]): POSIX rename by default;
    * tests/deployments swap [[SnapshotStore.headStoreFactory]] for a
    * conditional-put backend (object stores). */
  private val heads: HeadStore = SnapshotStore.headStoreFactory()

  /** The publish-lease identity of the current thread's multi-table
    * transaction, if one is open ([[underTableLeases]]) — every head put
    * inside the leased window carries it, so the backend's one-item
    * conditional write can admit the holder and refuse everyone else. */
  private val leaseOwner = new ThreadLocal[Option[String]] {
    override def initialValue(): Option[String] = None
  }

  /** Every head put in the store routes here: the thread's lease
    * identity (None outside a leased window) rides into the backend's
    * conditional write. */
  private def headPut(table: String, expected: Option[HeadStore.Head],
      next: Long): Boolean =
    heads.compareAndPut(root, table, expected, next, leaseOwner.get())

  /** Multi-table mutual exclusion for CONDITIONAL head backends: a TTL'd
    * publish lease per table, acquired in sorted order (deadlock-free),
    * all puts inside `body` carrying the lease identity. The object-store
    * replacement for [[underPointerLocks]]'s file locks — no JVM root
    * monitor either, so in-process racers exercise the same protocol a
    * multi-process deployment would. A live foreign lease backs off and
    * retries (its holder's publish window is file-metadata ops — ms); an
    * EXPIRED one is broken by the backend, which fences the loser so a
    * paused holder resuming after takeover cannot move any head — its
    * already-written `_txn/` intent is the roll-forward point that
    * completes the cascade ([[recoverPendingTxns]]). */
  private def underTableLeases[T](tables: Seq[String])(body: => T): T = {
    val owner = java.util.UUID.randomUUID().toString
    val sorted = tables.sorted
    // acquisition INSIDE the release scope: an interrupt in the backoff
    // sleep (job cancellation) must release the leases already taken,
    // not park them until TTL expiry while every single-table committer
    // on those tables spins out the window
    val acquired = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      sorted.foreach { t =>
        var backoff = 1L
        while (!heads.tryLease(root, t, owner, SnapshotStore.LeaseTtlMs)) {
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, 16L)
        }
        acquired += t
      }
      val prev = leaseOwner.get()
      leaseOwner.set(Some(owner))
      try body
      finally leaseOwner.set(prev)
    } finally acquired.foreach(t => heads.unlease(root, t, owner))
  }

  /** Commit `df` as the next version of `table`; returns the new version.
    *
    * Version numbers are ALLOCATED by atomic `Files.createDirectory` on the
    * version dir: the committer that creates `v=n` owns it exclusively, and a
    * concurrent committer (other instance or other JVM on the same root) that
    * loses the race gets `FileAlreadyExistsException` and retries with n+1 —
    * a sibling's version directory can never be clobbered. The directory is
    * fully written before the pointer moves (write-then-rename), so readers
    * never observe a partial version. A mid-write crash leaves an orphan dir
    * ABOVE the pointer; it is skipped by later allocations, excluded from
    * `history`, and reclaimable via `vacuum(dropOrphans = true)`.
    *
    * The pointer only moves FORWARD (never to a lower version), so two racing
    * committers converge on the higher version; the lower one remains on disk
    * as a committed-but-superseded version. A version directory counts as
    * COMMITTED only once its `_SUCCESS` marker exists (written by the
    * FileOutputCommitter after every part file) — a racing committer that is
    * overtaken, or a crash mid-write, leaves a marker-less directory that
    * `history`/`read` never expose, whatever its position relative to the
    * pointer. Read-modify-write operations (`append`, `compact`) commit
    * via compare-and-swap instead — see `append` for the optimistic
    * protocol; a bare `commit` is a REWRITE and keeps last-writer-wins. */
  def commit(table: String, df: DataFrame): Long = commit(table, df, None)

  /** Commit with an explicit CHANGE SET: the rows this version added
    * relative to its predecessor, recorded under `v=n/_changes/` INSIDE the
    * claimed immutable directory. The underscore prefix hides the subdir
    * from Spark's file listing, so snapshot reads of `v=n` are unaffected;
    * the streaming change feed (`spark.readStream.format("graft")
    * .option("feed", "changes")`, sources/GraftDataSource) reads exactly
    * these per-version deltas as micro-batches. `append` records its
    * delta by copying the written files ([[appendCandidate]]); a bare
    * `commit` is a REWRITE with no well-defined delta, records nothing,
    * and is skipped by the feed (document the same way Delta CDF treats
    * overwrites). The change set is written before the pointer moves, so
    * every version the pointer exposes has its delta complete on disk. */
  def commit(table: String, df: DataFrame, changeSet: Option[DataFrame],
      props: Map[String, String] = Map.empty): Long =
    commitWith(table, Some(df), changeSet, base = None,
      snapshot = rewriteSnapshotSchema(table, df), props = props)

  /** The self-contained-rewrite snapshot schema — field IDs as a
    * TABLE-BIRTH property: a new table's columns get never-used IDs; an
    * ID'd table's overwrite keeps name-matching columns' IDs and mints
    * fresh ones for new columns; a LEGACY (ID-less) table stays legacy
    * forever — mid-lineage upgrades are deliberately refused because
    * cross-version readers (the change feed reads every version's deltas
    * under the LATEST schema) would then mix an ID'd read schema with
    * pre-upgrade ID-less files, which fails loudly rather than
    * resolving. Legacy tables keep the rename-as-rewrite path; recreate
    * (or export/import) to adopt IDs. ONE definition shared by every
    * rewrite-commit face ([[commit]], [[commitIfHead]]) so the
    * ID-adoption policy can never diverge between them. */
  private def rewriteSnapshotSchema(table: String, df: DataFrame)
      : StructType = {
    val prev = latestVersion(table).map(v => snapshotSchema(table, Some(v)))
    val s = ParquetTableShim.asNullable(df.schema)
    prev match {
      case None => withFieldIds(s, None)
      case Some(p) if SnapshotStore.schemaHasFieldIds(p) => withFieldIds(s, Some(p))
      case Some(_) => s
    }
  }

  /** Delete a version directory recursively — the CAS-loser cleanup every
    * conditional commit shares, and the store's ONE recursive delete of a
    * version (refused CHECK candidates, failed relinks, vacuum). */
  private def discardCandidate(table: String, cand: Long): Unit = {
    val w = Files.walk(versionDir(table, cand))
    try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally w.close()
  }

  /** The conditional publish: CAS the unexposed candidate `cand` onto
    * `expectedHead` (None = the table must still be absent), or discard
    * it. Some(cand) when it won; None when a sibling moved the head first
    * — the candidate is then gone, never exposed. */
  private def publishIf(table: String, cand: Long,
      expectedHead: Option[Long]): Option[Long] =
    if (casAdvance(table, cand, expectedHead)) Some(cand)
    else { discardCandidate(table, cand); None }

  /** A candidate that is pure METADATA over its base: a chain link that
    * writes, tombstones and vectors no row (schema, constraint and
    * property DDL). Read from the candidate's own directory — never via
    * the [[fileStats]] memo, which must not learn an unexposed number. */
  private def isMetadataLink(table: String, cand: Long): Boolean =
    Files.exists(baseFile(table, cand)) &&
      !Files.exists(removedFileOf(table, cand)) &&
      !Files.exists(dvFileOf(table, cand)) && {
        val s = Files.list(versionDir(table, cand))
        try !s.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }

  /** The ONE optimistic-commit loop of the single-table read-modify-write
    * writers: read the head `v`, let `step(v)` build an unexposed
    * candidate against it (None = nothing to do, `v` is the answer), then
    * [[publishIf]] it onto `v`; a lost round re-reads the new head and
    * recomputes. The liveness policy is derived from the candidate, never
    * passed in:
    *  - a metadata link ([[isMetadataLink]]) retries until won — its
    *    recompute re-reads a few small files and every lost round is a
    *    sibling's progress, so a sustained appender can never starve DDL
    *    (the delete-starvation lesson, round 12);
    *  - a data-carrying rewrite is an O(table) recompute: it spends the
    *    caller's `maxRetries` lost rounds, each followed by
    *    [[recomputeBackoff]], then fails loudly — `hot` names the
    *    contention in that message.
    * [[SnapshotStore.testRaceHook]] fires once per round, between the
    * candidate write and the CAS. */
  private def optimisticCommit(table: String, op: String, maxRetries: Int = 0,
      hot: String = "")(step: Long => Option[Long]): Long = {
    @tailrec def round(lost: Int): Long = {
      val v = latestVersion(table).getOrElse(
        throw new IllegalArgumentException(s"no committed version of $table"))
      step(v) match {
        case None => v
        case Some(cand) =>
          val metadataOnly = isMetadataLink(table, cand)
          SnapshotStore.testRaceHook() // spec seam: force a sibling commit
          publishIf(table, cand, Some(v)) match {
            case Some(won) => won
            case None if metadataOnly =>
              // CAS only fails because the pointer moved off v (forward-
              // only) — a still-equal head means lock misuse, not a race.
              require(latestVersion(table).exists(_ != v),
                s"$op CAS to $table failed with unmoved pointer $v")
              round(lost)
            case None if lost < maxRetries =>
              recomputeBackoff(lost)
              round(lost + 1)
            case None => throw new IllegalStateException(
              s"$op($table) lost the commit race $maxRetries times — " +
                s"${hot}retry later or widen maxRetries")
          }
      }
    }
    round(0)
  }

  /** The pause before a data-carrying writer's recompute after its
    * `lost`-th lost round (0-based): 25 ms doubling to a 400 ms cap, so
    * racing rewriters interleave instead of lock-stepping. */
  private def recomputeBackoff(lost: Int): Unit =
    Thread.sleep(25L << math.min(lost, 4))

  /** CONDITIONAL self-contained commit — [[commit]] whose pointer move
    * succeeds ONLY if the table's head is still `expectedHead` at the CAS
    * (None = no committed version yet). The OCC primitive maintained
    * views enforce their single-maintainer contract with: two racing
    * refreshers both read horizon H; both compute; exactly ONE wins the
    * CAS and commits H', the loser's candidate is discarded UNEXPOSED and
    * it learns it raced (returns None) instead of overwriting the
    * winner's fold with a same-horizon twin — or worse, landing an older
    * horizon above a newer one (the last-writer-wins hazard the old
    * convention-only contract documented). Unlike the retry-until-won
    * writers, a lost race here must NOT retry internally: the caller's
    * whole fold is stale (it read the pre-race view state), so staleness
    * has to surface at the fold layer. */
  private[graft] def commitIfHead(table: String, df: DataFrame,
      expectedHead: Option[Long],
      props: Map[String, String] = Map.empty): Option[Long] = {
    val cand = commitWith(table, Some(df), None, base = None,
      snapshot = rewriteSnapshotSchema(table, df), props = props,
      advance = false)
    publishIf(table, cand, expectedHead)
  }

  /** [[commitMaintainerProps]] made CONDITIONAL on the head (the same CAS
    * contract as [[commitIfHead]], for the data-less horizon-advance
    * links): None on a lost race — never the silent retry-until-won a
    * maintainer's stale horizon must not get. */
  private[graft] def commitMaintainerPropsIf(table: String,
      props: Map[String, String], expectedHead: Long): Option[Long] =
    publishIf(table, propertiesLink(table, props, expectedHead),
      Some(expectedHead))

  /** The unexposed `set-properties` link over `v` that every property
    * writer commits: `props` pinned as a data-less chain link, a bucket
    * claim re-stamped (no file moved). */
  private def propertiesLink(table: String, props: Map[String, String],
      v: Long): Long = {
    require(props.nonEmpty, "commitMaintainerPropsIf requires at least one pair")
    commitWith(table, None, None, base = Some(v),
      snapshot = snapshotSchema(table, Some(v)), advance = false,
      props = props ++ bucketPropsAt(table, v) +
        (SnapshotStore.OpProp -> "set-properties"))
  }

  /** The shared commit machinery: claim a version directory, pin its chain
    * link + snapshot schema, write data + change set, verify the
    * committed-write marker, advance the pointer. `base = Some(v)` makes
    * this version a chain link over `v` (its files are a delta);
    * `base = None` makes it self-contained. `snapshot` is the FULL snapshot
    * schema at this version (chain-merged for appends), pinned to
    * `_snapshot_schema.json` so reads never pay per-file footer merging —
    * at warehouse scale, schema-on-manifest is what keeps `read` from
    * touching every file's metadata before the scan starts. */
  private def commitWith(table: String, df: Option[DataFrame],
      changeSet: Option[DataFrame], base: Option[Long],
      snapshot: StructType, props: Map[String, String] = Map.empty,
      advance: Boolean = true, removed: Seq[String] = Nil,
      removedRows: Option[DataFrame] = None,
      dv: Map[String, Seq[Long]] = Map.empty): Long = {
    // Deliberately NOT serialized across committers: allocation is atomic
    // by itself (createDirectory), the write targets an exclusively-owned
    // directory, and only the pointer move below needs mutual exclusion.
    Files.createDirectories(tableDir(table))
    var next = math.max(latestVersion(table).getOrElse(0L), maxVersionDir(table)) + 1L
    var claimed = false
    while (!claimed) {
      try { Files.createDirectory(versionDir(table, next)); claimed = true }
      catch { case _: java.nio.file.FileAlreadyExistsException => next += 1L }
    }
    // Chain link + schema are written BEFORE the data: `_SUCCESS` (written
    // during the data job) is what marks the version committed, so nothing
    // the committed-version contract depends on may land after it — a crash
    // between data and a late `_base` would surface a delta-only directory
    // as a full snapshot, which is silent data loss, not a clean failure.
    base.foreach(b => Files.writeString(baseFile(table, next), b.toString))
    Files.writeString(schemaFile(table, next), snapshot.json)
    // Commit properties (Delta commitInfo's role): caller-supplied metadata
    // pinned INSIDE the version directory, before the data, so anything the
    // version's consumers need to pair with it atomically (e.g. AnnIndex's
    // centroids version) commits or vanishes WITH the version — never a
    // second non-atomic write.
    //
    // STANDING table metadata survives rewrites: a self-contained rewrite
    // (base = None) starts a fresh props chain and would silently forget
    // everything the chain carried, so the pre-rewrite head's graft.check.*
    // constraints AND user table properties (non-reserved keys — SET
    // TBLPROPERTIES' pairs, Delta's semantics: properties survive data
    // rewrites) carry into the candidate's own props, caller's entries
    // overriding. Reserved graft.* LAYOUT/protocol keys (op tags, bucket
    // claims, dropped-column markers) do NOT carry — they describe the
    // old chain's files, and a rewrite invalidates exactly those claims.
    // Forgetting a constraint is dropCheckConstraint; forgetting a
    // property is unsetTableProperties — never a side effect of an
    // overwrite or compaction. Tombstoned (empty-value) entries are
    // dropped at the carry: a fresh chain has no inherited value left to
    // suppress.
    val carried =
      if (base.isDefined) props
      else latestVersion(table).map { prev =>
        resolvedProps(table, prev).filter { case (k, v) =>
          v.nonEmpty && (k.startsWith(SnapshotStore.CheckPropPrefix) ||
            k.startsWith(SnapshotStore.KeyConsPropPrefix) ||
            !k.toLowerCase.startsWith("graft.")) } ++ props
      }.getOrElse(props)
    if (carried.nonEmpty) Files.writeString(propsFile(table, next),
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
        org.json4s.JObject(carried.toList.sortBy(_._1)
          .map { case (k, v) => k -> org.json4s.JString(v) }))))
    // File tombstones (`_removed.json`, written by `delete`): store-relative
    // keys ("v=N/part-....parquet") of chain files this version REPLACES.
    // Metadata-before-marker like `_base`: a version the pointer exposes
    // must have its full read contract on disk.
    if (removed.nonEmpty) Files.writeString(removedFileOf(table, next),
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
        org.json4s.JArray(removed.sorted.map(org.json4s.JString(_)).toList))))
    // Deletion vectors (`_dv.json`, written by sparse `delete`/`update`):
    // store-relative file key -> sorted row indexes (`_metadata.row_index`)
    // this version DELETES from still-live chain files WITHOUT rewriting
    // them. Metadata-before-marker like the tombstones. JSON is the
    // local-filesystem rendering; an object-store deployment would swap in
    // a roaring-bitmap sidecar (Delta DV's serialization) behind the same
    // key->indexes contract.
    if (dv.nonEmpty) Files.writeString(dvFileOf(table, next),
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
        org.json4s.JObject(dv.toList.sortBy(_._1).map { case (k, idxs) =>
          k -> org.json4s.JArray(idxs.sorted.map(org.json4s.JLong(_)).toList)
        }))))
    // `append` into the just-claimed EMPTY directory — overwrite would
    // first DELETE it, and in that window a concurrent committer's
    // createDirectory on the same version would succeed, putting two
    // writers in one directory. The claim must exist continuously from
    // allocation to pointer move. (Allocation never reuses an existing
    // directory, so append semantics can never mix two commits.)
    def stamped(d: DataFrame): DataFrame = stampedWithIds(d, snapshot)
    // NDV sketches ride the write job itself (Observation — zero extra
    // passes); the sidecar write below is best-effort like `_stats.json`.
    var ndvHarvest: Option[(org.apache.spark.sql.Observation, Seq[String])] = None
    df match {
      case Some(d) =>
        // observe CONSTRUCTION is best-effort too: an analysis failure
        // adding the metrics (exotic column types, duplicate-alias edge
        // cases the dedup misses) must cost the NDV sidecar, never the
        // commit — fall back to writing the unobserved frame.
        val toWrite = stamped(d)
        val observedDf =
          try {
            val (o, harvest) = NdvStats.observed(toWrite)
            ndvHarvest = harvest
            o
          } catch { case scala.util.control.NonFatal(_) => toWrite }
        observedDf.write.mode("append").parquet(versionDir(table, next).toString)
      case None =>
        // A data-less version (a pure deletion-vector commit): nothing to
        // write, so the committer never runs — stamp the completed-write
        // marker directly. The sidecars above are the version's content.
        Files.writeString(versionDir(table, next).resolve("_SUCCESS"), "")
    }
    changeSet.foreach(c => stamped(c).write.mode("append")
      .parquet(changesDir(table, next).toString))
    // The DELETED rows of a delete version (`_changes_removed/`, own
    // `_SUCCESS` like `_changes`): what the batch change-data feed emits
    // as _change_type = 'delete'. O(matched rows) — the same rows the
    // survivor rewrite already re-read.
    removedRows.foreach(r => stamped(r).write.mode("append")
      .parquet(versionDir(table, next).resolve("_changes_removed").toString))
    // The committed-version contract below (history/readAt/vacuum) keys on
    // the marker; a config that suppresses it (marksuccessfuljobs=false)
    // must fail THIS commit loudly, not silently produce an unreadable
    // version that vacuum would later reclaim as an orphan.
    require(hasSuccessMarker(table, next),
      s"commit wrote v=$next of $table without a _SUCCESS marker — " +
        "the snapshot store requires mapreduce.fileoutputcommitter." +
        "marksuccessfuljobs=true (the default)")
    // Data-skipping manifest (`_stats.json`): per-file column min/max from
    // the just-written parquet FOOTERS — metadata-only reads, no second
    // pass over the data. Strictly best-effort: the committed-version
    // contract must not depend on it (a crash right here leaves a valid,
    // merely unpruned version), so failures are swallowed.
    try FileStats.writeStatsFile(
      spark.sparkContext.hadoopConfiguration, versionDir(table, next))
    catch { case scala.util.control.NonFatal(_) => () }
    // NDV sidecar (`_ndv.json`): harvest the write job's observation —
    // same best-effort contract as the stats manifest above.
    try ndvHarvest.foreach(NdvStats.write(versionDir(table, next), _))
    catch { case scala.util.control.NonFatal(_) => () }
    // ANSI CHECK enforcement — ONE choke point for every data-carrying
    // write path (append, commit/overwrite, update/merge survivors, the
    // V1 SQL insert): validate the JUST-WRITTEN files against the active
    // constraint set, O(delta) with column pruning, BEFORE any exposure —
    // a violating candidate is discarded, never half-visible. Predicates
    // evaluating NULL pass (ANSI: violated only when FALSE). Reading the
    // written files (not the input frame) avoids recomputing the caller's
    // plan and validates what is actually stored. Sidecar subdirectories
    // (_changes etc.) are underscore-hidden from the scan.
    // Content-neutral rewrites (compact, compact-dv) re-arrange rows that
    // came from an already-validated snapshot — re-validating them would
    // double the cost of an O(table) compaction for nothing.
    val contentNeutral = carried.get(SnapshotStore.OpProp)
      .exists(SnapshotStore.ContentNeutralOps.contains)
    if (df.isDefined && !contentNeutral) {
      val active = base.map(checkConstraintsOf(table, _)).getOrElse(Map.empty) ++
        carried.collect {
          case (k, sql) if k.startsWith(SnapshotStore.CheckPropPrefix) &&
            sql.nonEmpty =>
            k.stripPrefix(SnapshotStore.CheckPropPrefix) -> sql
        }
      if (active.nonEmpty) {
        import org.apache.spark.sql.functions.{coalesce, expr, lit}
        val written = spark.read.schema(snapshot)
          .parquet(versionDir(table, next).toString)
        active.find { case (_, sql) =>
          written.where(coalesce(expr(sql).cast("boolean"), lit(true)) ===
            lit(false)).head(1).nonEmpty
        }.foreach { case (n, sql) =>
          discardCandidate(table, next)
          throw new IllegalArgumentException(
            s"write to $table violates CHECK constraint $n ($sql) — " +
              "candidate discarded, table unchanged")
        }
      }
    }
    if (advance) advancePointer(table, next)
    next
  }

  /** The version's data-skipping manifest, if its commit wrote one.
    * Memoized like schemas — but a None (no `_stats.json`) is cached ONLY
    * once the version is at or below the table pointer: the stats write
    * lands after `_SUCCESS` and before the pointer move, so a cross-process
    * `readAt` hitting that window would otherwise memoize "no manifest" and
    * permanently lose pruning for the version in this JVM. A missing
    * manifest at or below the pointer is final (best-effort write already
    * failed), so caching it then is sound. */
  def fileStats(table: String, version: Long)
      : Option[Map[String, graft.core.FileStats.FileStat]] =
    SnapshotStore.statsCache.get((root, table, version)).getOrElse {
      val r = FileStats.readStatsFile(versionDir(table, version))
      if (r.isDefined || latestVersion(table).exists(version <= _))
        SnapshotStore.statsCache.putIfAbsent((root, table, version), r)
      r
    }

  /** The chain's per-column NDV estimates at `version`: the union of the
    * links' `_ndv.json` sketches ([[NdvStats.chainNdv]] — HLL unions are
    * lossless, so an append chain's NDV is the true union estimate).
    * Memoized per immutable version with [[fileStats]]'s discipline: an
    * empty result is cached only at or below the pointer (the sidecar
    * lands after `_SUCCESS`, before the pointer move). Empty when any
    * data-carrying link predates NDV sketching — a partial union would
    * UNDERSTATE NDV and overstate join selectivity. */
  /** Does a chain-link version directory CARRY DATA — the shared
    * predicate of every chain-stat union (NDV / histograms / CMS): the
    * manifest answers when present, else one directory listing. A
    * data-less link (pure-DV commit, constraint link) contributes no
    * sidecar and must not veto the union. */
  private def linkHasData(table: String)(d: Path): Boolean = {
    val dirVersion = d.getFileName.toString.stripPrefix("v=").toLong
    fileStats(table, dirVersion).map(_.nonEmpty).getOrElse {
      val s = Files.list(d)
      try s.iterator().asScala.exists(p =>
        p.getFileName.toString.endsWith(".parquet") &&
          Files.isRegularFile(p))
      finally s.close()
    }
  }

  def chainNdv(table: String, version: Long): Map[String, Long] =
    SnapshotStore.ndvCache.get((root, table, version)).getOrElse {
      val (_, dirs) = resolveVersionPaths(table, Some(version))
      // rename-aware: pre-rename links' sidecars key the OLD name, the
      // same logical→physical maps the zone-map pruner follows
      val physNames = physicalNamesByVersion(table, version)
      val r = NdvStats.chainNdv(dirs, linkHasData(table), d => physNames.getOrElse(d.getFileName.toString, Map.empty))
      if (r.nonEmpty || latestVersion(table).exists(version <= _))
        SnapshotStore.ndvCache.putIfAbsent((root, table, version), r)
      r
    }

  /** The snapshot's per-column equi-height histogram boundaries —
    * non-empty only on single-data-link chains (see
    * [[NdvStats.chainHist]]; a compact restores them after appends). */
  def chainHistograms(table: String, version: Long): Map[String, Array[Double]] =
    SnapshotStore.histCache.get((root, table, version)).getOrElse {
      val (_, dirs) = resolveVersionPaths(table, Some(version))
      val physNames = physicalNamesByVersion(table, version)
      val r = NdvStats.chainHist(dirs, linkHasData(table), d => physNames.getOrElse(d.getFileName.toString, Map.empty))
      // cache committed-version results only (same rule as chainNdv)
      if (r.nonEmpty || latestVersion(table).exists(version <= _))
        SnapshotStore.histCache.putIfAbsent((root, table, version), r)
      r
    }

  /** The snapshot's per-string-column count-min sketches — the chain
    * union of the links' `_cms.json` sidecars ([[NdvStats.chainCms]];
    * CMS merges are exact counter sums). Point-frequency answers at
    * ±eps·rows for hot-categorical-key selectivity (the join-sizing
    * rule in [[graft.GraftExtensions]]). Memoized per immutable version
    * with [[chainNdv]]'s caching discipline. */
  def chainCms(table: String, version: Long)
      : Map[String, org.apache.spark.util.sketch.CountMinSketch] =
    SnapshotStore.cmsCache.get((root, table, version)).getOrElse {
      val (_, dirs) = resolveVersionPaths(table, Some(version))
      val physNames = physicalNamesByVersion(table, version)
      val r = NdvStats.chainCms(dirs, linkHasData(table), d => physNames.getOrElse(d.getFileName.toString, Map.empty))
      if (r.nonEmpty || latestVersion(table).exists(version <= _))
        SnapshotStore.cmsCache.putIfAbsent((root, table, version), r)
      r
    }

  /** [[commitProps]] with CHAIN INHERITANCE: a chain-link version (append)
    * inherits its base's properties, later links overriding earlier keys —
    * so metadata pinned at a rewrite (e.g. AnnIndex's centroids pairing)
    * stays resolvable after any number of appends without re-stamping it
    * on every delta. */
  def resolvedProps(table: String, version: Long): Map[String, String] =
    chainOf(table, version).foldLeft(Map.empty[String, String]) {
      (acc, v) => acc ++ commitProps(table, v)
    }

  /** Commit properties a version was committed with (`_props.json`, written
    * before the data like `_base`/the schema pin — atomic with the version).
    * Empty for versions committed without properties. */
  def commitProps(table: String, version: Long): Map[String, String] = {
    val f = propsFile(table, version)
    if (!Files.exists(f)) Map.empty
    else org.json4s.jackson.JsonMethods.parse(Files.readString(f)) match {
      case org.json4s.JObject(fields) =>
        fields.collect { case (k, org.json4s.JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  /** Apply any pending `_txn` intent's entry for `table` — the caller
    * HOLDS `table`'s pointer lock. The intent is the transaction's
    * commit point: a sibling that commits between a crashed writer's
    * intent and its recovery would otherwise base itself on the
    * PRE-transaction head, and the later roll-forward — which moves the
    * pointer on version order alone — would orphan the sibling's commit
    * (pointer moved to a chain that does not contain it; with several
    * tables, a torn cascade). Applying the intent's pointer move FIRST
    * makes the sibling's own CAS see the post-transaction head and
    * re-base/relink like any lost race. The intent FILE stays in place
    * for [[recoverPendingTxns]] to finish its other tables and delete;
    * both applications are idempotent. */
  private def applyPendingIntentsFor(table: String): Unit =
    pendingIntents().foreach { case (_, versions) =>
      versions.collect { case (t, v) if t == table => v }
        .foreach(rollForward(table, _))
    }

  /** Every pending `_txn/` intent, oldest name first: the intent file and
    * its (table, version) entries. The store's ONE reader of intents. A
    * live writer or a recovery (this JVM or another) may delete an intent
    * between the listing and the read — by then it is fully applied — so
    * a vanished or torn intent reads as no entries. Cheap when `_txn/` is
    * absent: one directory stat. */
  private def pendingIntents(): Seq[(Path, Seq[(String, Long)])] = {
    if (!Files.exists(txnDir)) return Nil
    val s = Files.list(txnDir)
    val intents =
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".json"))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    intents.map { f =>
      f -> (try org.json4s.jackson.JsonMethods.parse(Files.readString(f)) match {
        case org.json4s.JObject(fields) => fields.collect {
          case (t, org.json4s.JLong(v)) => t -> v
          case (t, org.json4s.JInt(v))  => t -> v.toLong
        }
        case _ => Nil
      } catch { case scala.util.control.NonFatal(_) => Nil })
    }
  }

  /** Roll one intent entry forward: if the candidate `v` is fully written
    * (`_SUCCESS`), stamp it committed, then move `table`'s pointer
    * forward to it. The caller holds `table`'s publish exclusion. */
  private def rollForward(table: String, v: Long): Unit =
    if (hasSuccessMarker(table, v)) {
      stampCommitted(table, v)
      forwardPointer(table, v)
    }

  /** Move the pointer to `next` unless an already-committed version is newer.
    * Forward-only is enforced under a cross-process FILE LOCK (plus a
    * per-root JVM monitor — overlapping FileLocks in one JVM throw rather
    * than block) — a bare check-then-rename would let two committers
    * interleave reads and regress the pointer. Local-filesystem design,
    * like the store itself; an object-store deployment swaps this layer for
    * a commit log, exactly as Delta/Iceberg do. */
  private def advancePointer(table: String, next: Long): Unit = {
    def body(): Unit = {
      applyPendingIntentsFor(table) // crashed-txn intents first (see doc)
      // The COMMITTED sentinel is written here — inside the lock, before
      // any pointer move — never by the data write itself: `_SUCCESS`
      // alone only proves the candidate's FILES are complete, and a CAS
      // loser sitting below a sibling's higher pointer would otherwise
      // read as committed history in the window before its relink or
      // discard (transient exposure in history/readAt/feeds, double-fold
      // hazards for incremental consumers, and vacuum reclaiming an
      // in-flight retry as "old history"). A bare `commit` is
      // last-writer-wins, so it is committed even when a higher sibling
      // already moved the pointer past it (committed-but-superseded) —
      // the sentinel lands unconditionally; only the pointer move is
      // forward-gated.
      stampCommitted(table, next)
      forwardPointer(table, next)
    }
    // Conditional backends have no pointer FILE lock; the JVM root
    // monitor still serializes bare commits' sentinel stamps in-process
    // so commit-timestamp order can't invert version order here (two
    // unconditioned advancePointer racers would otherwise both read the
    // same floor). Cross-PROCESS bare commits on an object store need
    // the deployment's lock service — the same scope note as the txn
    // intents (HeadStore doc); base-conditioned commits (append/mutate)
    // don't need it: the CAS itself serializes their stamps.
    if (heads.conditional) SnapshotStore.rootLock(root)(body())
    else underPointerLock(table)(body())
  }

  /** Write the committed sentinel CARRYING the expose-time wall clock
    * (epoch ms as the file's content) — what `TIMESTAMP AS OF` resolves
    * against. Expose time, not data-write time: a rebased candidate's
    * files predate the appends it serialized after, but its sentinel
    * lands strictly later, so timestamp order always equals commit
    * order. Clamped monotonic against the current head's stamp, so a
    * wall-clock step backwards (NTP) can never make two versions resolve
    * out of order. Monotonicity needs the floor-read and write to be
    * exclusive per table: POSIX callers hold the pointer lock;
    * conditional-put callers are serialized by the CAS itself
    * (base-conditioned commits — a loser unstamps) or by the JVM root
    * monitor (bare commits, see advancePointer). */
  private def stampCommitted(table: String, v: Long): Unit = {
    val floor = latestVersion(table)
      .flatMap(commitTimeOf(table, _)).getOrElse(0L)
    Files.writeString(committedMarker(table, v),
      math.max(System.currentTimeMillis(), floor + 1L).toString)
  }

  /** Remove a candidate's committed sentinel — the rollback a LOST
    * conditional put needs (the optimistic stamp made the candidate
    * transiently committed-looking; losing the head race un-publishes
    * it before the caller rebases or discards). */
  private def unstampCommitted(table: String, v: Long): Unit =
    Files.deleteIfExists(committedMarker(table, v))

  /** Compare-and-swap pointer move — the optimistic-concurrency commit
    * step for read-modify-write operations: under the same cross-process
    * lock as [[advancePointer]], move the pointer to `next` ONLY if it
    * still reads `expectedBase` (the snapshot the operation was built
    * on). Returns false — having moved nothing — when a sibling committed
    * first; the caller re-bases onto the new head and retries,
    * Delta/Iceberg's commit-log protocol reduced to a pointer file.
    *
    * Two callers: [[publishIf]], through which single-table writers that
    * retry do so in ONE loop, [[optimisticCommit]]; and `append`'s relink
    * loop ([[occAppendCommit]]). Row mutations and multi-table
    * transactions publish through ONE step, [[publishTxn]]: a `_txn/`
    * intent, then [[forwardPointer]]. */
  private def casAdvance(table: String, next: Long,
      expectedBase: Option[Long]): Boolean = {
    def attempt(): Boolean = {
      // crashed-txn intents apply BEFORE the CAS reads the pointer (see
      // applyPendingIntentsFor) — a stale read here would let this commit
      // be orphaned by the later roll-forward
      applyPendingIntentsFor(table)
      val cur = heads.read(root, table)
      if (cur.map(_.version) == expectedBase && cur.forall(_.version < next)) {
        // Sentinel strictly before the pointer move: a reader that sees
        // the new pointer must find the version already committed. Under
        // the POSIX lock a CAS loser never reaches this line; under a
        // CONDITIONAL-PUT backend both racers stamp and the lost put
        // unstamps below — the loser's candidate is then sentinel-less
        // again (invisible to history/readAt/feeds) until its caller
        // relinks or discards it.
        stampCommitted(table, next)
        if (headPut(table, cur, next)) true
        else { unstampCommitted(table, next); false }
      } else false
    }
    // A true conditional put IS the arbitration — run lock-free, the
    // object-store deployment's whole point (rename/locks don't exist
    // there). POSIX rename needs the read→put window locked. A put
    // refused while the head is UNMOVED is a multi-table transaction's
    // publish lease blocking us (never a version conflict — those move
    // the head): back off and re-attempt, so the caller's contract stays
    // "false means the pointer moved off the base".
    if (heads.conditional) {
      var out = Option.empty[Boolean]
      var backoff = 1L
      while (out.isEmpty) {
        if (attempt()) out = Some(true)
        else if (heads.read(root, table).map(_.version) != expectedBase)
          out = Some(false)
        else { Thread.sleep(backoff); backoff = math.min(backoff * 2, 16L) }
      }
      out.get
    } else underPointerLock(table)(attempt())
  }

  /** Forward-only publish: loop the conditional put until `v` is the
    * head or a newer head exists. POSIX callers hold the pointer lock,
    * so the loop runs exactly once there. Under a conditional backend a
    * put refused with the head UNMOVED is a foreign publish lease —
    * back off until its (ms-scale) window closes; a FENCED put (this
    * thread's own lease was broken by TTL takeover) fails loudly
    * instead of spinning — the already-written `_txn/` intent is the
    * roll-forward point, and recovery completes the cascade. */
  private def forwardPointer(table: String, v: Long): Unit = {
    var done = false
    var backoff = 1L
    var stalls = 0
    while (!done) {
      val cur = heads.read(root, table)
      if (cur.exists(_.version >= v)) done = true
      else {
        done = headPut(table, cur, v)
        if (!done && heads.read(root, table) == cur) {
          stalls += 1
          if (leaseOwner.get().isDefined &&
              stalls * 16L > SnapshotStore.LeaseTtlMs)
            throw new IllegalStateException(
              s"publish lease on $table lost (TTL takeover) — the txn " +
                "intent decides the outcome; recovery will complete it")
          Thread.sleep(backoff); backoff = math.min(backoff * 2, 16L)
        }
      }
    }
  }

  /** Pointer-move mutual exclusion: a cross-process FILE LOCK (plus the
    * per-root JVM monitor — overlapping FileLocks in one JVM throw rather
    * than block). Local-filesystem design, like the store itself; an
    * object-store deployment swaps this layer for a commit log, exactly as
    * Delta/Iceberg do. */
  private def underPointerLock[T](table: String)(body: => T): T =
    SnapshotStore.rootLock(root) {
      val lockPath = tableDir(table).resolve("_pointer.lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }

  /** Highest existing version DIRECTORY (committed or orphan) — allocation
    * must start above both the pointer and any orphan. */
  private def maxVersionDir(table: String): Long =
    versionDirs(table).foldLeft(0L)(math.max)

  /** RE-NUMBER an unexposed candidate directory to a freshly-claimed
    * version: claim the number with atomic `createDirectory` (exactly the
    * allocation protocol every commit uses — the claim either succeeds
    * exclusively or steps past), then move the candidate's CONTENTS into
    * the owned directory and drop the husk. The old shape — renaming the
    * WHOLE directory onto the next free number — was not claim-safe on
    * POSIX: rename(2) onto a sibling's existing claim throws
    * ENOTEMPTY once the sibling wrote anything (caught live by the
    * concurrent fuzz), and SILENTLY REPLACES the claim while it is still
    * empty, putting two writers in one version. A crash mid-move leaves
    * both directories marker-less (the caller drops `_SUCCESS` first) —
    * invisible orphans, reclaimed by `vacuum(dropOrphans)`, the same
    * crash contract as any unexposed candidate. */
  private def renumberCandidate(table: String, oldVersion: Long): Long = {
    var next = math.max(latestVersion(table).getOrElse(0L),
      maxVersionDir(table)) + 1L
    var claimed = false
    while (!claimed) {
      try { Files.createDirectory(versionDir(table, next)); claimed = true }
      catch { case _: java.nio.file.FileAlreadyExistsException => next += 1L }
    }
    val from = versionDir(table, oldVersion)
    val to = versionDir(table, next)
    val s = Files.list(from)
    try s.iterator().asScala.toSeq.foreach(p =>
      Files.move(p, to.resolve(p.getFileName.toString)))
    finally s.close()
    Files.delete(from)
    next
  }

  /** Append rows as a new CHAIN-LINK version: the directory holds only this
    * delta, `_base` points at the snapshot it extends, and reads assemble
    * the chain — O(delta) written per append regardless of table size (the
    * streaming-ingest and event-log shape; a union-and-rewrite append would
    * be O(table) per batch).
    *
    * CONCURRENCY: optimistic, cross-JVM safe. The delta writes UNLOCKED
    * into its exclusively-claimed version directory; the pointer move is a
    * compare-and-swap on the base the append resolved ([[casAdvance]]). A
    * loser — any sibling committed first, from this JVM or another on the
    * same root — RE-BASES: its already-written directory is renamed to a
    * fresh version number (an O(#files) metadata rename, the data is never
    * rewritten), `_base` is repointed at the new head, the snapshot schema
    * is re-merged (and retype conflicts re-checked) against it, and the
    * CAS retries. Appends commute, so the rebase is exact; every CAS
    * round has a winner, so N racing appenders finish in ≤ N rounds. This
    * is Delta/Iceberg's optimistic commit protocol reduced to a pointer
    * file (the reference gets the same linearization from Postgres
    * transactions, schema/00_baseline.sql:2198-2240).
    *
    * `rows` is evaluated once ([[appendCandidate]]): no caller checkpoint.
    *
    * SCHEMA EVOLUTION CONTRACT: adding or omitting whole columns is
    * allowed (the pinned snapshot schema grows; files missing a column
    * read as null), and LOSSLESS NUMERIC WIDENING is allowed in either
    * direction (byte/short/int → long, float → double — see
    * [[mergedAppendSchema]]'s matrix: the pinned schema resolves to the
    * wider type and the vectorized reader converts narrow files natively,
    * so an evolved 100 TB chain never rewrites to change an int to a
    * long). Any OTHER retype is refused here rather than discovered
    * downstream — lossy numeric changes, string/temporal retypes, and
    * nested types, which compare deeply (restructuring a struct column
    * counts as a retype). The check
    * runs against the base at write time AND again against any re-based
    * head: a sibling append that won the race may have added the same
    * column with a different type, in which case the loser fails loudly
    * (its directory is removed — never exposed). */
  def append(table: String, rows: DataFrame): Long =
    appendFrom(table, rows, latestVersion(table))

  /** [[append]] with an explicit resolved base — the OCC write + commit
    * loop, exposed to specs so a cross-JVM interleaving (two appenders
    * resolving the SAME base) can be forced deterministically. */
  private[graft] def appendFrom(table: String, rows: DataFrame,
      base: Option[Long], props: Map[String, String] = Map.empty): Long = {
    val merged = mergedAppendSchema(table, base, rows.schema)
    val v = appendCandidate(table, rows, base, merged, props)
    occAppendCommit(table, rows.schema, v, base)
  }

  /** Every append's unexposed candidate: `rows` written ONCE as the
    * link's data, then its part files (checksums too) copied into
    * `_changes/` under their own `_SUCCESS`, before any pointer move. The
    * delta IS the change set, so the caller's plan runs once. */
  private def appendCandidate(table: String, rows: DataFrame,
      base: Option[Long], snapshot: StructType,
      props: Map[String, String] = Map.empty): Long = {
    val v = commitWith(table, Some(rows), None, base = base,
      snapshot = snapshot, advance = false, props = props)
    val changes = Files.createDirectory(changesDir(table, v))
    FileStats.partFiles(versionDir(table, v)).foreach { p =>
      Files.copy(p, changes.resolve(p.getFileName))
      val crc = p.resolveSibling(s".${p.getFileName}.crc")
      if (Files.exists(crc)) Files.copy(crc, changes.resolve(crc.getFileName))
    }
    Files.writeString(changes.resolve("_SUCCESS"), "")
    v
  }

  /** CAS until won: each failed round means a sibling committed, so the
    * loop re-links onto the sibling's head and tries again — system-wide
    * progress every iteration, no livelock. */
  @tailrec private def occAppendCommit(table: String, deltaSchema: StructType,
      myVersion: Long, myBase: Option[Long]): Long =
    if (casAdvance(table, myVersion, myBase)) myVersion
    else {
      val head = latestVersion(table)
      // CAS can only fail because the pointer moved off myBase, and the
      // pointer is forward-only — a still-equal head means lock misuse.
      require(head.isDefined && head != myBase,
        s"append CAS to $table failed with unmoved pointer $head")
      occAppendCommit(table, deltaSchema,
        relink(table, myVersion, head.get, deltaSchema), head)
    }

  /** Re-base a written-but-unexposed chain link onto `newBase`: rename the
    * directory to a fresh version number above the new head, repoint
    * `_base`, re-merge the pinned snapshot schema, restore the committed
    * marker. The `_SUCCESS` marker is dropped for the duration of the
    * metadata rewrite so no reader (or vacuum) can observe the directory
    * in a half-rebased state; the rename itself is the atomic claim of the
    * new version number (a concurrent committer's `createDirectory` on the
    * same number makes the move fail, and we step past it). Data files,
    * the `_changes` subdirectory, and the `_stats.json` manifest (keyed by
    * bare filenames) all travel with the rename untouched. */
  private def relink(table: String, oldVersion: Long, newBase: Long,
      deltaSchema: StructType): Long = {
    def discard(reason: => Throwable): Nothing = {
      // The delta can never commit against this head. Remove the
      // never-exposed directory rather than leaving an orphan that reads
      // as a crashed commit.
      discardCandidate(table, oldVersion)
      throw reason
    }
    // The base this delta was WRITTEN against (its current `_base`), for
    // the two relink-only hazards below: both compare "what the write
    // validated against" with "what the new head now demands".
    val writeBase: Option[Long] = {
      val f = baseFile(table, oldVersion)
      if (Files.exists(f)) Some(Files.readString(f).trim.toLong) else None
    }
    // RENAME-RACE GUARD: mergedAppendSchema treats a delta column absent
    // from the base as a schema-widening ADD — correct for genuinely new
    // columns, silent data mangling when the column EXISTED at write time
    // and a concurrent rewrite (renameColumns) removed the name: the
    // delta's values would land in a resurrected old-name column while
    // the renamed column reads NULL for those rows. A name the delta
    // carries that the write-time base had but the new head lost is a
    // schema conflict, and fails as loudly as the dropped-column guard.
    writeBase.foreach { wb =>
      val hadAtWrite = snapshotSchema(table, Some(wb))
        .fieldNames.map(_.toLowerCase).toSet
      val hasNow = snapshotSchema(table, Some(newBase))
        .fieldNames.map(_.toLowerCase).toSet
      val lost = deltaSchema.fieldNames.filter(n =>
        hadAtWrite.contains(n.toLowerCase) && !hasNow.contains(n.toLowerCase))
      if (lost.nonEmpty) discard(new IllegalStateException(
        s"append to $table raced a schema rewrite that removed column(s) " +
          s"${lost.mkString(", ")} the delta still carries (concurrent " +
          "RENAME/replace) — delta discarded, re-run the append against " +
          "the current schema"))
    }
    // Re-merge from the candidate's PINNED write-time schema restricted
    // to the delta's columns, not the caller's raw schema: the delta's
    // files are already field-ID-STAMPED (and type-widened) under the
    // write-time merge, and a re-merge from raw types would re-MINT ids
    // for added columns — the files would then carry ids the new pinned
    // schema doesn't know, and the delta would silently read NULL (or
    // worse, cross-wire into a sibling's same-minted id).
    val deltaNames = deltaSchema.fieldNames.map(_.toLowerCase).toSet
    val writtenDelta = {
      val f = schemaFile(table, oldVersion)
      if (!Files.exists(f)) deltaSchema
      else StructType(org.apache.spark.sql.types.DataType.fromJson(
        Files.readString(f)).asInstanceOf[StructType]
        .fields.filter(x => deltaNames.contains(x.name.toLowerCase)))
    }
    val merged =
      try mergedAppendSchema(table, Some(newBase), writtenDelta)
      catch { case e: IllegalArgumentException => discard(e) }
    // ID-collision check: a preserved stamped id must not be bound to a
    // DIFFERENT column by the new base (possible only if two writers
    // minted the same random id for different columns — astronomically
    // rare, but silent cross-column wiring if unchecked).
    if (SnapshotStore.schemaHasFieldIds(merged)) {
      val dup = merged.fields.flatMap(f =>
        SnapshotStore.fieldIdOf(f).map(_ -> f.name)).groupBy(_._1)
        .collect { case (id, fs) if fs.map(_._2).distinct.length > 1 =>
          s"id $id: ${fs.map(_._2).mkString(", ")}" }
      if (dup.nonEmpty) discard(new IllegalStateException(
        s"append to $table: field-id collision after re-base " +
          s"(${dup.mkString("; ")}) — delta discarded, re-run the append"))
    }
    // ID-DIVERGENCE RESTAMP: when the re-merged schema binds a delta
    // column to a DIFFERENT id than the one stamped in the delta's files
    // — two racing writers adding the same new column each minted their
    // own id, or an append raced a metadata rename whose winning link
    // owns the name under the original id — the already-written files
    // would read NULL under the new pinned schema (id matching, not
    // name). A delta with NO stamped id at all diverges the same way: a
    // LEGACY append racing a winning adoptFieldIds relinks ID-less
    // parquet under an ID'd pinned schema, and Spark's ID-matched reader
    // then REFUSES the whole file ("read schema expects field Ids") —
    // found by the adoption-race fuzz, so absent ids count as divergent
    // and restamp too. The candidate directory is UNEXPOSED, so the
    // delta's data and change-set files are lawfully rewritten
    // restamped: O(delta), only on the racing path, never in steady
    // state (existing columns' ids are lineage-stable).
    if (SnapshotStore.schemaHasFieldIds(merged)) {
      val mergedIds = merged.fields
        .flatMap(f => SnapshotStore.fieldIdOf(f).map(f.name.toLowerCase -> _))
        .toMap
      val divergent = writtenDelta.fields.exists(f =>
        mergedIds.get(f.name.toLowerCase).exists(mid =>
          !SnapshotStore.fieldIdOf(f).contains(mid)))
      if (divergent) {
        val target = StructType(writtenDelta.fields.map { f =>
          merged.fields.find(_.name.equalsIgnoreCase(f.name))
            .map(m => f.copy(metadata = m.metadata)).getOrElse(f)
        })
        def restamp(sub: Path): Unit = {
          val s = Files.list(sub)
          val parts =
            try s.iterator().asScala.filter(p =>
              p.getFileName.toString.endsWith(".parquet")).toSeq
            finally s.close()
          if (parts.nonEmpty) {
            val df = spark.read.schema(writtenDelta)
              .parquet(parts.map(_.toString): _*)
            val tmp = sub.resolve("_restamp_tmp")
            stampedWithIds(df, target).write.parquet(tmp.toString)
            parts.foreach { p =>
              Files.deleteIfExists(p)
              Files.deleteIfExists(p.resolveSibling("." + p.getFileName + ".crc"))
            }
            val t = Files.list(tmp)
            try t.iterator().asScala.filter(p =>
              p.getFileName.toString.endsWith(".parquet")).foreach { p =>
              Files.move(p, sub.resolve(p.getFileName.toString))
            } finally t.close()
            val w = Files.walk(tmp)
            try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
            finally w.close()
          }
        }
        restamp(versionDir(table, oldVersion))
        val ch = changesDir(table, oldVersion)
        if (Files.isDirectory(ch)) restamp(ch)
        // file names changed: regenerate the data-skipping manifest
        try FileStats.writeStatsFile(
          spark.sparkContext.hadoopConfiguration, versionDir(table, oldVersion))
        catch { case scala.util.control.NonFatal(_) => () }
        // the rewritten files' part indexes no longer carry the writer's
        // bucket attribution: a bucket claim on this link must drop
        // (correctness over speed — the rare racing path only)
        val props = commitProps(table, oldVersion)
        if (props.contains(SnapshotStore.BucketColProp) ||
            props.contains(SnapshotStore.BucketNProp)) {
          val stripped = props - SnapshotStore.BucketColProp -
            SnapshotStore.BucketNProp
          Files.writeString(propsFile(table, oldVersion),
            org.json4s.jackson.JsonMethods.compact(
              org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
                stripped.toList.sortBy(_._1).map { case (k, v2) =>
                  k -> org.json4s.JString(v2) }))))
        }
      }
    }
    // CHECK-GROWTH RE-VALIDATION: commitWith validated the written files
    // against the constraint set of the WRITE-TIME base; a concurrent
    // addCheckConstraint between then and this relink would otherwise
    // commit unvalidated rows into a table whose constraints() reports
    // them ENFORCED. Only the GROWN/CHANGED predicates re-run — O(delta),
    // column-pruned, and casAdvance's expected-base check makes this
    // airtight: a constraint landing AFTER this point moves the pointer,
    // fails the CAS, and routes back through here.
    val newChecks = checkConstraintsOf(table, newBase)
    val oldChecks = writeBase.map(checkConstraintsOf(table, _))
      .getOrElse(Map.empty[String, String])
    val toRevalidate = newChecks.filter { case (n, sql) =>
      !oldChecks.get(n).contains(sql) }
    if (toRevalidate.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit}
      val written = spark.read.schema(merged)
        .parquet(versionDir(table, oldVersion).toString)
      toRevalidate.find { case (_, sql) =>
        written.where(coalesce(expr(sql).cast("boolean"), lit(true)) ===
          lit(false)).head(1).nonEmpty
      }.foreach { case (n, sql) => discard(new IllegalArgumentException(
        s"append to $table violates CHECK constraint $n ($sql) added " +
          "concurrently with the write — delta discarded, table unchanged"))
      }
    }
    Files.deleteIfExists(versionDir(table, oldVersion).resolve("_SUCCESS"))
    val next = renumberCandidate(table, oldVersion)
    Files.writeString(baseFile(table, next), newBase.toString)
    Files.writeString(schemaFile(table, next), merged.json)
    Files.writeString(versionDir(table, next).resolve("_SUCCESS"), "")
    next
  }

  /** The chain-merged snapshot schema an append over `base` pins — and the
    * retype check (see [[append]]'s schema-evolution contract), which runs
    * once at write time and again on every re-base.
    *
    * TYPE WIDENING (the Delta/Iceberg type-promotion matrix, reduced to
    * what Spark 4's vectorized parquet reader natively widens, pinned by
    * GraftSourceSpec's evolution matrix): a common column whose two types
    * differ resolves to the WIDER one when the narrower LOSSLESSLY widens
    * to it — byte/short/int → long, float → double, byte/short/int →
    * double — in either direction (a narrow delta reads under the wide
    * pinned schema; a wide delta widens the pinned schema, under which the
    * chain's older narrow files read widened). Nothing is ever rewritten:
    * the physical files keep their original types and the reader converts
    * per column chunk. UNSUPPORTED, refused loudly: lossy numeric changes
    * (long → double, any narrowing), string/binary/temporal retypes, and
    * ANY nested-type change (struct/array/map compare deeply) — those
    * still require a rewrite via `commit`. */
  private def mergedAppendSchema(table: String, base: Option[Long],
      deltaSchema: StructType): StructType = base match {
    case Some(v) =>
      val bs = snapshotSchema(table, Some(v))
      val conflicts = scala.collection.mutable.ArrayBuffer[String]()
      val resolved = bs.fields.map { f =>
        deltaSchema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
          case Some(r) if r.dataType == f.dataType => f
          case Some(r) if widensTo(r.dataType, f.dataType) => f
          case Some(r) if widensTo(f.dataType, r.dataType) =>
            f.copy(dataType = r.dataType)
          case Some(r) =>
            conflicts += s"${f.name}: ${f.dataType.simpleString} -> ${r.dataType.simpleString}"
            f
          case None => f
        }
      }
      require(conflicts.isEmpty,
        s"append to $table retypes existing column(s) [${conflicts.mkString("; ")}] — " +
          "adding columns and lossless numeric widening (int -> long, " +
          "float -> double) are supported; other retypes need a rewrite " +
          "via commit")
      val added = deltaSchema.fields.filterNot(r =>
        bs.fieldNames.exists(_.equalsIgnoreCase(r.name)))
      // Resurrection guard (see dropColumns): a delta column whose name was
      // DROPPED from this chain would re-widen the pinned schema and expose
      // the dropped column's stale values still sitting in older chain
      // files. Refuse until compact rewrites the chain without them.
      // ID'd chains don't need the guard: the re-added column mints a
      // FRESH field id, readers match by id, and the dead column's bytes
      // (old id) are structurally unreachable — re-adding reads null.
      if (!SnapshotStore.schemaHasFieldIds(bs)) {
        val dropped = droppedColumnsOf(table, v)
        val revived = added.map(_.name).filter(n => dropped.contains(n.toLowerCase))
        require(revived.isEmpty,
          s"append to $table re-introduces dropped column(s) " +
            s"${revived.mkString(", ")} whose data still exists in chain " +
            "files — run compact first, or rename the delta column(s)")
      }
      // An ID'd chain assigns never-used IDs to the delta's ADDED columns
      // (resolved fields keep the base's); a legacy chain stays ID-less
      // until a rewrite upgrades it.
      val merged0 = StructType(resolved ++ added)
      ParquetTableShim.asNullable(
        if (SnapshotStore.schemaHasFieldIds(bs)) withFieldIds(merged0, Some(bs))
        else merged0)
    case None =>
      // append-born table: ID'd at birth like a commit-born one
      withFieldIds(ParquetTableShim.asNullable(deltaSchema), None)
  }

  /** `from` widens LOSSLESSLY to `to` and Spark's vectorized parquet
    * reader performs the conversion natively when reading a `from`-typed
    * file under a `to`-typed read schema (probed on this Spark; pinned by
    * the GraftSourceSpec matrix). */
  private[graft] def widensTo(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (ByteType | ShortType | IntegerType | FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Collapse the current snapshot's base chain into one SELF-CONTAINED
    * version (Delta OPTIMIZE's role): after many appends the chain is long
    * and its part files small, so reads list/open O(chain) directories;
    * compaction rewrites the assembled snapshot once, after which `vacuum`
    * can actually reclaim the superseded links (a kept chain pins its
    * ancestors). Records NO change set — the feed's consumers already saw
    * these rows as the appends that produced them, exactly as Delta CDF
    * skips OPTIMIZE commits. `targetPartitions` sizes the output files
    * (0 = keep the scan's own partitioning).
    *
    * CONCURRENCY: same CAS commit as `append` — the pointer moves only if
    * it still reads the version the compaction scanned, so a concurrent
    * append can never be silently dropped from the head (the old
    * unconditional forward move would have replaced the head with a
    * snapshot that predates the append's delta). A compaction that loses
    * the race discards its candidate (never exposed) and re-compacts the
    * new head, backing off between rounds ([[optimisticCommit]]); a
    * continuously-hot table bounds this at `maxRetries` and fails loudly
    * — compaction is an optimization, losing data is not an acceptable
    * fallback. */
  def compact(table: String, targetPartitions: Int = 0,
      clusterBy: Seq[String] = Nil, maxRetries: Int = 5): Long =
    optimisticCommit(table, "compact", maxRetries, "table is append-hot; ")(v =>
      Some(compactCandidate(table, v, targetPartitions, clusterBy)))

  /** One compaction attempt over an explicitly-pinned scan version — the
    * write step of [[compact]] published once, exposed to specs so a lost
    * race (head moved past `scanVersion` before the pointer CAS) can be
    * forced deterministically. Returns None after discarding the
    * never-exposed candidate. */
  private[graft] def compactOnce(table: String, scanVersion: Long,
      targetPartitions: Int = 0, clusterBy: Seq[String] = Nil): Option[Long] =
    publishIf(table,
      compactCandidate(table, scanVersion, targetPartitions, clusterBy),
      Some(scanVersion))

  /** The unexposed self-contained rewrite of the snapshot at
    * `scanVersion` that [[compact]] publishes. */
  private def compactCandidate(table: String, scanVersion: Long,
      targetPartitions: Int, clusterBy: Seq[String]): Long = {
    val snap = readAt(table, scanVersion)
    // A DEFAULT compaction of a bucketed chain preserves the bucket
    // layout: the whole snapshot repartitions by the claimed spec, so the
    // collapsed version's files are bucket-attributed (one file per
    // bucket, part index = bucket id) and the zero-exchange join claim
    // survives the chain collapse — small bucketed files merge WITHIN
    // their buckets instead of losing the layout. An explicit
    // targetPartitions or clusterBy is a request for a DIFFERENT layout
    // and drops the claim as before (re-bucket with commitBucketed).
    val (bucketProps0, bucketed) =
      if (clusterBy.isEmpty && targetPartitions == 0)
        bucketClaimOf(table, scanVersion)
      else (Map.empty[String, String], identity[DataFrame] _)
    // The layout-preserving compact also RESTORES the sorted-bucket
    // claim: the collapse yields one file per bucket, so sorting within
    // partitions here makes the whole chain ordering-eligible again
    // (appends/mutations dropped it) — and the claim is stamped only
    // because the sort actually ran, never inherited (see below).
    val bucketProps =
      if (bucketProps0.nonEmpty)
        bucketProps0 + (SnapshotStore.BucketSortedProp -> "true")
      else bucketProps0
    val df =
      if (bucketProps0.nonEmpty)
        bucketed(snap).sortWithinPartitions(
          SnapshotStore.bucketColsOf(bucketProps0(SnapshotStore.BucketColProp))
            .map(org.apache.spark.sql.functions.col): _*)
      else if (clusterBy.nonEmpty) clustered(snap, clusterBy, targetPartitions)
      else if (targetPartitions > 0) snap.repartition(targetPartitions)
      else snap
    // Inherit the scanned chain's resolved properties (metadata pinned at
    // any ancestor — e.g. AnnIndex's centroids pairing — must survive the
    // chain collapsing to one self-contained version), plus the op tag
    // that tells feed consumers this version changed LAYOUT, not content.
    // Bucket props re-stamp only on the layout-preserving path above;
    // otherwise they are DROPPED — the compacted files are not bucket-
    // attributed, and inheriting the claim would silently corrupt
    // storage-partitioned joins.
    commitWith(table, Some(df), changeSet = None, base = None,
      snapshot = snapshotSchema(table, Some(scanVersion)), advance = false,
      props = resolvedProps(table, scanVersion) -
        SnapshotStore.BucketColProp - SnapshotStore.BucketNProp -
        SnapshotStore.BucketSortedProp - // re-stamped above ONLY if sorted
        SnapshotStore.DroppedColsProp ++ bucketProps +
        (SnapshotStore.OpProp -> "compact"))
  }

  /** Fold the chain's accumulated DELETION VECTORS away WITHOUT collapsing
    * the chain (compact's O(table) rewrite): rewrites ONLY the vectored
    * files — their surviving rows land as a chain link that tombstones
    * them — after which every reader broadcast of the chain's vectors
    * (scanWithDv) disappears. O(vectored files), content-neutral (the
    * vectored rows' delete images were already emitted when they were
    * vectored, so like compact this records NO change set and stays
    * invisible to the feeds). Returns the fold version, or the unchanged
    * head when the chain carries no vectors.
    *
    * This is the BACKSTOP against unbounded vector accumulation: each
    * mutation's vector is capped ([[SnapshotStore.DvMaxRowsPerMutation]]),
    * but many sparse mutations stack — every read pays a driver-side
    * broadcast of the chain total. Mutations auto-trigger this fold when
    * the chain crosses [[SnapshotStore.DvMaxChainRows]] (seam:
    * [[dvChainFoldRows]]); long mutation-quiesced tables can call it
    * directly. Same CAS + bounded-recompute contract as [[compact]]. */
  def compactVectored(table: String, maxRetries: Int = 5): Long =
    optimisticCommit(table, "compactVectored", maxRetries,
        "table is mutation-hot; ") { v =>
      val dvs = dvInChain(table, v)
      if (dvs.isEmpty) None
      else {
        val schema = snapshotSchema(table, Some(v))
        val keys = dvs.keys.toSeq.sorted
        val paths = keys.map(k => tableDir(table).resolve(k))
        val survivors = scanWithDv(table, paths, schema, dvs)
          .select(schema.fieldNames
            .map(org.apache.spark.sql.functions.col(_)).toIndexedSeq: _*)
        // Bucket-claim preservation, same contract as mutationCommit: the
        // vectored files' survivors repartition by the chain's bucket
        // spec, so the fold's rewrite files are bucket-attributed and a
        // bucketed fact table's zero-exchange joins survive the DV fold.
        val (bucketProps, bucketed) = bucketClaimOf(table, v)
        Some(commitWith(table, Some(bucketed(survivors)), changeSet = None,
          base = Some(v), snapshot = schema, advance = false,
          removed = keys,
          props = resolvedProps(table, v) -
            SnapshotStore.BucketColProp - SnapshotStore.BucketNProp -
            SnapshotStore.BucketSortedProp - // per-link claim: never inherited
            SnapshotStore.DroppedColsProp ++ bucketProps +
            (SnapshotStore.OpProp -> "compact-dv")))
      }
    }

  /** The chain-accumulated DV row count above which a mutation folds the
    * vectors ([[compactVectored]]) before proceeding. A spec seam and an
    * ops lever; the default is [[SnapshotStore.DvMaxChainRows]]. */
  private[graft] var dvChainFoldRows: Long = SnapshotStore.DvMaxChainRows

  /** The chain-vector backstop every mutation runs before it reads its
    * head ([[mutateAll]] per table and round, [[merge]] once): the
    * accumulated vectors ride every reader's broadcast (scanWithDv),
    * unbounded across many sparse mutations until something folds them.
    * Over [[dvChainFoldRows]], fold first (O(vectored files)); the
    * mutation then runs against the clean head. Committed on its own,
    * before the mutation: the fold is content-neutral. */
  private def foldVectorsOverCap(table: String): Unit =
    latestVersion(table).foreach { v =>
      if (dvInChain(table, v).valuesIterator.map(_.size.toLong).sum >
          dvChainFoldRows) compactVectored(table)
    }

  /** Write-time clustering (Iceberg sort-order / Delta OPTIMIZE ZORDER's
    * role for the single-dimension case): range-partition + sort within
    * partitions on `cols`, so each written file covers a narrow key range
    * and the `_stats.json` zone map actually prunes point and range
    * predicates on those columns. Without clustering the stats still
    * exist, but every file's [min, max] spans the key domain and nothing
    * skips. */
  private def clustered(df: DataFrame, cols: Seq[String],
      targetPartitions: Int = 0): DataFrame = {
    val cs = cols.map(org.apache.spark.sql.functions.col)
    val rp =
      if (targetPartitions > 0) df.repartitionByRange(targetPartitions, cs: _*)
      else df.repartitionByRange(cs: _*)
    rp.sortWithinPartitions(cs: _*)
  }

  /** `commit` with write-time clustering on `clusterBy` (see [[clustered]]).
    * `targetPartitions` > 0 pins the file count (an explicit partition
    * count also opts the shuffle out of AQE coalescing — small builds
    * otherwise collapse to one file and nothing can prune). */
  def commitClustered(table: String, df: DataFrame, clusterBy: Seq[String],
      changeSet: Option[DataFrame] = None, targetPartitions: Int = 0,
      props: Map[String, String] = Map.empty): Long =
    commit(table, clustered(df, clusterBy, targetPartitions), changeSet, props)

  /** `append` with write-time clustering of the delta: the appended files
    * cover narrow ranges of `clusterBy`, so chain reads with a selective
    * predicate skip most delta directories' files outright. */
  def appendClustered(table: String, rows: DataFrame,
      clusterBy: Seq[String]): Long =
    append(table, clustered(rows, clusterBy))

  /** SCHEMA-ONLY evolution — `ALTER TABLE … ADD COLUMNS`' engine: widen
    * the pinned snapshot schema with new NULLABLE columns as a DATA-LESS
    * chain link (no file touched; the chain's files read null for the
    * added columns, exactly as older files do under an appended wider
    * delta). Content-neutral to feeds, like compact. Preserves a bucketed
    * chain's layout claim (no row moved, so the spec is re-stamped onto
    * the link). Name collisions refuse; a later append may then fill the
    * column, and the widening rules apply from its declared type.
    *
    * LIVENESS: CAS until won, like `append` — every lost round means a
    * sibling committed (system-wide progress, never livelock), and the
    * recompute is METADATA-ONLY (re-read one schema file, re-validate,
    * rewrite one link directory), so unlike `compact`'s O(table) retry
    * there is no cost argument for a bounded budget; a sustained appender
    * must not be able to starve schema DDL (the delete-starvation lesson,
    * round 12). A sibling that makes the change invalid (e.g. appended
    * the same column name) surfaces as the validation refusal, not a
    * retry. */
  def addColumns(table: String, columns: StructType): Long = {
    require(columns.nonEmpty, "addColumns requires at least one column")
    optimisticCommit(table, "addColumns") { v =>
      val base = snapshotSchema(table, Some(v))
      val dups = columns.fieldNames.filter(n =>
        base.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(dups.isEmpty,
        s"addColumns to $table: column(s) ${dups.mkString(", ")} already exist")
      // Resurrection guard: a previously-dropped name's PHYSICAL data is
      // still in the chain's files, and parquet resolves by name — re-adding
      // it would silently expose the old values as the "new" column. ID'd
      // chains skip it: the re-added column mints a fresh field id, so the
      // dead column's bytes are unreachable and the new column reads null.
      if (!SnapshotStore.schemaHasFieldIds(base)) {
        val dropped = droppedColumnsOf(table, v)
        val revived = columns.fieldNames.filter(n => dropped.contains(n.toLowerCase))
        require(revived.isEmpty,
          s"addColumns to $table: column(s) ${revived.mkString(", ")} were " +
            "previously dropped and their data still exists in chain files — " +
            "run compact first to rewrite the chain without them")
      }
      val merged0 = StructType(base.fields ++ columns.fields)
      val merged = ParquetTableShim.asNullable(
        if (SnapshotStore.schemaHasFieldIds(base)) withFieldIds(merged0, Some(base))
        else merged0)
      // Carry the bucket claim forward iff the head holds one: files are
      // untouched, so the layout is exactly as valid after the link.
      val bucketProps = bucketPropsAt(table, v)
      Some(commitWith(table, None, None, base = Some(v),
        snapshot = merged, advance = false,
        props = bucketProps + (SnapshotStore.OpProp -> "add-columns")))
    }
  }

  /** SCHEMA-ONLY narrowing — `ALTER TABLE … DROP COLUMN`'s engine: remove
    * columns from the pinned snapshot schema as a DATA-LESS chain link.
    * No file is touched: every read scans under the pinned schema (column
    * pruning at the source), so the dropped column's physical bytes simply
    * stop being requested — at 100 TB, dropping a fat column costs one
    * metadata commit, not a table rewrite (Delta DROP COLUMN's contract;
    * reference M4/M5 learned-CRUD cascade,
    * api/app/lib/age_client/query.py:277-483). Content-neutral to feeds,
    * like add-columns. Time travel to a pre-drop version still reads the
    * column (schemas are pinned per version). Preserves a bucketed chain's
    * layout claim UNLESS the bucket column itself is dropped — the claim
    * names a column readers can no longer see, so the link omits the props
    * and `bucketSpecOf`'s every-link rule breaks the claim.
    *
    * RESURRECTION GUARD: the physical column still exists in chain files
    * and parquet resolves by NAME, so re-introducing the name (addColumns,
    * or an append whose delta carries it) would silently expose the stale
    * values as the "new" column. The link records its dropped names
    * ([[SnapshotStore.DroppedColsProp]]); [[addColumns]] and the append
    * schema merge refuse those names until a `compact` rewrites the chain
    * from the narrowed snapshot (compact commits base = None — a fresh
    * chain whose files no longer hold the column — so the marker clears
    * with the chain).
    *
    * LIVENESS: CAS until won (see [[addColumns]] — metadata-only
    * recompute, sibling progress every lost round, no bounded budget for
    * an appender to starve). */
  def dropColumns(table: String, names: Seq[String]): Long = {
    require(names.nonEmpty, "dropColumns requires at least one column")
    optimisticCommit(table, "dropColumns") { v =>
      val base = snapshotSchema(table, Some(v))
      val missing = names.filterNot(n =>
        base.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(missing.isEmpty,
        s"dropColumns from $table: no such column(s) ${missing.mkString(", ")}")
      val dropSet = names.map(_.toLowerCase).toSet
      val narrowed = StructType(
        base.fields.filterNot(f => dropSet.contains(f.name.toLowerCase)))
      require(narrowed.nonEmpty,
        s"dropColumns from $table would remove every column — drop the " +
          "table instead")
      val blocked = constraintRefs(table, v).filter {
        case (_, cols) => cols.exists(dropSet.contains) }
      require(blocked.isEmpty,
        s"dropColumns from $table: CHECK constraint(s) " +
          s"${blocked.keys.toSeq.sorted.mkString(", ")} reference the " +
          "column(s) — drop the constraint(s) first")
      val bucketProps = bucketLayoutOf(table, v)
        // dropping ANY column of a (possibly composite) bucket key kills
        // the claim — the remaining columns no longer determine the hash
        .filterNot { case (cols, _) =>
          cols.exists(s => dropSet.contains(s.toLowerCase)) }
        .fold(Map.empty[String, String]) { case (cols, dims) =>
          SnapshotStore.bucketLayoutProps(cols, dims)
        }
      Some(commitWith(table, None, None, base = Some(v),
        snapshot = narrowed, advance = false,
        props = bucketProps +
          (SnapshotStore.OpProp -> "drop-columns") +
          (SnapshotStore.DroppedColsProp ->
            org.json4s.jackson.JsonMethods.compact(
              org.json4s.jackson.JsonMethods.render(org.json4s.JArray(
                dropSet.toList.sorted.map(org.json4s.JString(_))))))))
    }
  }

  /** `ALTER TABLE … RENAME COLUMN`'s engine. Two paths by chain lineage:
    *
    * ID'D CHAIN (tables born under field-ID stamping — every commit since
    * r15; see [[SnapshotStore.FieldIdKey]]): a DATA-LESS metadata link.
    * Parquet columns are matched by the pinned field IDs, which the
    * rename preserves under the new names, so no file is touched — one
    * metadata commit at any table size (Iceberg/Delta column-mapping
    * semantics; the reference's Postgres renames are metadata-only the
    * same way, schema/00_baseline.sql). Pre-rename time travel reads the
    * old names (schemas pinned per version); a bucket claim survives with
    * its column name mapped; content-neutral to feeds like ADD/DROP.
    * CAS-until-won liveness like [[addColumns]].
    *
    * LEGACY (ID-less) CHAIN: an O(table) OCC REWRITE — parquet resolves
    * those files by name, so a data-less rename would read null
    * everywhere. CAS-committed (a lost race discards the candidate and
    * re-reads the new head, so no sibling commit is ever dropped); the
    * rewrite assigns fresh field IDs, upgrading the table so the NEXT
    * rename is metadata-only. Bucket props are stripped like compact's
    * (the rewritten files are not bucket-attributed); dropped-column
    * markers clear with the chain (base = None); the rewrite stays
    * ID-less (lineage is a birth property — see `commit`). NOT
    * content-neutral to feeds: the version reads as a rewrite
    * (resubscribe), like any commit. */
  def renameColumns(table: String, renames: Map[String, String],
      maxRetries: Int = 5): Long = {
    require(renames.nonEmpty, "renameColumns requires at least one rename")
    optimisticCommit(table, "renameColumns", maxRetries) { v =>
      val base = snapshotSchema(table, Some(v))
      val missing = renames.keys.filterNot(n =>
        base.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(missing.isEmpty,
        s"renameColumns on $table: no such column(s) ${missing.mkString(", ")}")
      val fromSet = renames.keys.map(_.toLowerCase).toSet
      val survivors = base.fieldNames.filterNot(n => fromSet.contains(n.toLowerCase))
      val targets = renames.values.toSeq
      val collisions = targets.filter(t =>
        survivors.exists(_.equalsIgnoreCase(t)) ||
          targets.count(_.equalsIgnoreCase(t)) > 1)
      require(collisions.isEmpty,
        s"renameColumns on $table: target name(s) " +
          s"${collisions.distinct.mkString(", ")} collide")
      val blocked = constraintRefs(table, v).filter {
        case (_, cols) => cols.exists(fromSet.contains) }
      require(blocked.isEmpty,
        s"renameColumns on $table: CHECK constraint(s) " +
          s"${blocked.keys.toSeq.sorted.mkString(", ")} reference the " +
          "column(s) — drop the constraint(s), rename, re-add")
      def renamed(n: String): String = renames.collectFirst {
        case (f, t) if f.equalsIgnoreCase(n) => t
      }.getOrElse(n)
      // The metadata path additionally requires every TARGET name to be
      // free of chain history under a different field ID: Spark's reader
      // resolves a requested column by NAME when the file holds that
      // name, field IDs notwithstanding (probed: a swap fails with a type
      // mismatch; SCALE.md, Round 15, field-ID renames), so renaming onto
      // a name some chain file carries for another column would
      // mis-resolve. A name only ever bound to the SAME id (rename-back:
      // a->b then b->a) is safe. Swaps and name-reuse fall back to the
      // honest rewrite.
      val targetsIdSafe = SnapshotStore.schemaHasFieldIds(base) && {
        val historical: Map[String, Set[Long]] = chainOf(table, v)
          .flatMap(l => snapshotSchema(table, Some(l)).fields)
          .flatMap(f => SnapshotStore.fieldIdOf(f).map(f.name.toLowerCase -> _))
          .groupMapReduce(_._1)(kv => Set(kv._2))(_ ++ _)
        renames.forall { case (from, to) =>
          val fid = base.fields.find(_.name.equalsIgnoreCase(from))
            .flatMap(SnapshotStore.fieldIdOf)
          historical.getOrElse(to.toLowerCase, Set.empty)
            .forall(id => fid.contains(id))
        }
      }
      if (targetsIdSafe) {
        // METADATA-ONLY RENAME (the ID'd-chain path, r15): every chain
        // file is field-ID-stamped and readers match by ID, so renaming
        // is a data-less chain link whose pinned schema carries the new
        // NAMES over the same IDs — one metadata commit at any table
        // size, like ADD/DROP (at 100 TB the rewrite alternative is a
        // full-table write). Time travel to pre-rename versions reads
        // the old names (schemas pinned per version). A bucket claim
        // survives (no row moved) with the claim's column name mapped
        // through the rename. Content-neutral to feeds like add/drop:
        // no row changed.
        val renamedSchema = ParquetTableShim.asNullable(StructType(
          base.fields.map(f => f.copy(name = renamed(f.name)))))
        val bucketProps = bucketLayoutOf(table, v)
          .fold(Map.empty[String, String]) { case (cols, dims) =>
            SnapshotStore.bucketLayoutProps(cols.map(renamed), dims)
          }
        // a metadata link: the commit loop retries it until won, and the
        // retry budget is only spent by the legacy rewrite path below
        Some(commitWith(table, None, None, base = Some(v),
          snapshot = renamedSchema, advance = false,
          props = bucketProps +
            (SnapshotStore.OpProp -> "rename-columns-metadata")))
      } else {
        // LEGACY (ID-less chain) path — an OCC REWRITE: parquet resolves
        // these files by name, so a data-less rename would read null
        // everywhere. The rewrite stays ID-less (table lineage is a birth
        // property — see `commit`'s note on why mid-lineage upgrades
        // would break cross-version feed reads).
        val df = readAt(table, v).select(base.fieldNames.map(n =>
          org.apache.spark.sql.functions.col(n).as(renamed(n))).toIndexedSeq: _*)
        Some(commitWith(table, Some(df), changeSet = None, base = None,
          snapshot = ParquetTableShim.asNullable(df.schema),
          advance = false,
          props = resolvedProps(table, v) -
            SnapshotStore.BucketColProp - SnapshotStore.BucketNProp -
            SnapshotStore.BucketSortedProp - // per-link claim: never inherited
            SnapshotStore.DroppedColsProp +
            (SnapshotStore.OpProp -> "rename-columns")))
      }
    }
  }

  /** UPGRADE a legacy (pre-field-ID) table to field-ID lineage: ONE
    * self-contained rewrite whose files are ID-stamped under freshly
    * minted IDs — after it, RENAME COLUMN is a metadata commit, the
    * resurrection guard relaxes (dead bytes unreachable by ID), and
    * feeds resolve across renames by ID. No-op (current version
    * returned) when the chain is already ID'd. CAS-committed like
    * `compact`; standing metadata (constraints, user props) carries;
    * bucket claims drop like any rewrite (re-bucket after). Tagged
    * content-neutral: row content is identical, so feeds skip it —
    * pre-adoption history stays readable to feed consumers by NAME (the
    * planners fall back to name resolution for ID-less versions). */
  def adoptFieldIds(table: String, maxRetries: Int = 5): Long =
    optimisticCommit(table, "adoptFieldIds", maxRetries) { v =>
      val schema = snapshotSchema(table, Some(v))
      if (SnapshotStore.schemaHasFieldIds(schema)) None
      else Some(commitWith(table, Some(readAt(table, v)), changeSet = None,
        base = None,
        snapshot = withFieldIds(ParquetTableShim.asNullable(schema), None),
        advance = false,
        props = resolvedProps(table, v) -
          SnapshotStore.BucketColProp - SnapshotStore.BucketNProp -
          SnapshotStore.BucketSortedProp - // per-link claim: never inherited
          SnapshotStore.DroppedColsProp +
          (SnapshotStore.OpProp -> "adopt-field-ids")))
    }

  /** Lowercased top-level column names each active constraint (CHECK
    * predicate attributes + key-constraint columns) references — what
    * column drop/rename must refuse to touch (the stored predicate SQL
    * would silently stop resolving, and a key constraint would name a
    * ghost column, under the new schema). */
  private def constraintRefs(table: String, v: Long): Map[String, Set[String]] =
    checkConstraintsOf(table, v).map { case (n, sql) =>
      n -> spark.sessionState.sqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase
      }.toSet
    } ++ keyConstraintsOf(table, v).map { case (n, kc) =>
      n -> kc.columns.map(_.toLowerCase).toSet
    }

  /** Active CHECK constraints of a version: name -> predicate SQL, from
    * the chain-resolved `graft.check.<name>` props. An EMPTY value is the
    * drop marker ([[dropCheckConstraint]] — chain inheritance can
    * override a key but never forget it), filtered out here. */
  def checkConstraintsOf(table: String, v: Long): Map[String, String] =
    resolvedProps(table, v).collect {
      case (k, sql) if k.startsWith(SnapshotStore.CheckPropPrefix) &&
        sql.nonEmpty =>
        k.stripPrefix(SnapshotStore.CheckPropPrefix) -> sql
    }

  /** `ALTER TABLE … ADD CONSTRAINT <name> CHECK (<predicate>)`' engine —
    * ANSI CHECK constraints as STANDING table metadata: a data-less props
    * link pins `graft.check.<name>`, chain inheritance carries it across
    * appends, and [[commitWith]] re-injects the set across self-contained
    * rewrites (INSERT OVERWRITE / compact must not silently forget a
    * contract — forgetting is [[dropCheckConstraint]]). EXISTING rows are
    * validated before the link commits (ANSI ADD CONSTRAINT semantics);
    * every subsequent data-carrying write validates its delta at
    * O(delta) inside the commit protocol, and the SQL faces additionally
    * advertise the set through `Table.constraints()` so Spark's own
    * analyzer-side enforcement fires on INSERT. NULL predicates PASS
    * (ANSI: violated only when FALSE). Same CAS-until-won liveness as
    * [[addColumns]]. */
  def addCheckConstraint(table: String, name: String,
      predicateSql: String): Long = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name '$name' — use [A-Za-z0-9_]+")
    require(predicateSql.trim.nonEmpty, "empty CHECK predicate")
    optimisticCommit(table, "addCheckConstraint") { v =>
      require(!checkConstraintsOf(table, v).contains(name) &&
        !keyConstraintsOf(table, v).contains(name),
        s"constraint $name already exists on $table")
      // ANSI: the table's CURRENT rows must satisfy the new constraint
      // (this scan also surfaces an unresolvable predicate loudly).
      val violating = readAt(table, v).where(
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.expr(predicateSql).cast("boolean"),
          org.apache.spark.sql.functions.lit(true)) ===
          org.apache.spark.sql.functions.lit(false))
      require(violating.head(1).isEmpty,
        s"cannot add CHECK constraint $name to $table: existing rows " +
          s"violate ($predicateSql)")
      Some(commitWith(table, None, None, base = Some(v),
        snapshot = snapshotSchema(table, Some(v)), advance = false,
        props = bucketPropsAt(table, v) +
          (SnapshotStore.CheckPropPrefix + name -> predicateSql) +
          (SnapshotStore.OpProp -> "add-constraint")))
    }
  }

  /** Drop a CHECK constraint: a data-less link whose `graft.check.<name>`
    * is EMPTY — the inheritance-safe drop marker (later links override
    * earlier keys; an absent key cannot be expressed down-chain). */
  def dropCheckConstraint(table: String, name: String,
      ifExists: Boolean = false): Long =
    optimisticCommit(table, "dropCheckConstraint") { v =>
      if (!checkConstraintsOf(table, v).contains(name)) {
        require(ifExists, s"no CHECK constraint $name on $table")
        None
      } else Some(commitWith(table, None, None, base = Some(v),
        snapshot = snapshotSchema(table, Some(v)), advance = false,
        props = bucketPropsAt(table, v) +
          (SnapshotStore.CheckPropPrefix + name -> "") +
          (SnapshotStore.OpProp -> "drop-constraint")))
    }

  /** INFORMATIONAL key constraints — `PRIMARY KEY` / `UNIQUE` / `FOREIGN
    * KEY … NOT ENFORCED`' engine (the Delta/engine-hint idiom): standing
    * table METADATA pinned as `graft.keycons.<name>` chain props, never
    * validated or enforced (enforcement needs an index the store does not
    * maintain — the SQL face refuses ENFORCED outright). What this buys
    * at 100 TB: the optimizer and downstream consumers SEE the keys —
    * DESCRIBE/`Table.constraints()` surface them as NOT ENFORCED +
    * UNVALIDATED (RELY opt-in carried verbatim), so a planner entitled to
    * trust RELY can drop a distinct or reorder a join, and a data
    * consumer can discover join keys without tribal knowledge. Same
    * tombstone drop, rewrite carry, and column-reference guards as CHECK
    * constraints; same CAS-until-won liveness as [[addColumns]].
    *
    * `kind` ∈ primary | unique | foreign; `foreign` requires `refTable`
    * and equally-many `refColumns`. */
  def addKeyConstraint(table: String, name: String, kind: String,
      columns: Seq[String], refTable: Option[String] = None,
      refColumns: Seq[String] = Nil, rely: Boolean = false): Long = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name '$name' — use [A-Za-z0-9_]+")
    require(SnapshotStore.KeyConstraintKinds.contains(kind),
      s"key constraint kind '$kind' — use one of " +
        SnapshotStore.KeyConstraintKinds.mkString(", "))
    require(columns.nonEmpty, s"key constraint $name names no columns")
    if (kind == "foreign") {
      require(refTable.exists(_.nonEmpty),
        s"FOREIGN KEY $name requires a referenced table")
      require(refColumns.size == columns.size,
        s"FOREIGN KEY $name: ${columns.size} column(s) reference " +
          s"${refColumns.size} — counts must match")
    } else require(refTable.isEmpty && refColumns.isEmpty,
      s"$kind constraint $name must not name a referenced table")
    optimisticCommit(table, "addKeyConstraint") { v =>
      require(!checkConstraintsOf(table, v).contains(name) &&
        !keyConstraintsOf(table, v).contains(name),
        s"constraint $name already exists on $table")
      val schema = snapshotSchema(table, Some(v))
      val missing = columns.filterNot(c =>
        schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"key constraint $name on $table: no such column(s) " +
          missing.mkString(", "))
      import org.json4s._
      val json = jackson.JsonMethods.compact(jackson.JsonMethods.render(JObject(
        List("kind" -> JString(kind),
          "columns" -> JArray(columns.toList.map(JString(_))),
          "rely" -> JBool(rely)) ++
          refTable.map(t => "refTable" -> (JString(t): JValue)).toList ++
          (if (refColumns.nonEmpty)
            List("refColumns" -> JArray(refColumns.toList.map(JString(_))))
          else Nil))))
      Some(commitWith(table, None, None, base = Some(v),
        snapshot = schema, advance = false,
        props = bucketPropsAt(table, v) +
          (SnapshotStore.KeyConsPropPrefix + name -> json) +
          (SnapshotStore.OpProp -> "add-key-constraint")))
    }
  }

  /** Drop an informational key constraint — the same empty-value
    * tombstone as [[dropCheckConstraint]]. */
  def dropKeyConstraint(table: String, name: String,
      ifExists: Boolean = false): Long =
    optimisticCommit(table, "dropKeyConstraint") { v =>
      if (!keyConstraintsOf(table, v).contains(name)) {
        require(ifExists, s"no key constraint $name on $table")
        None
      } else Some(commitWith(table, None, None, base = Some(v),
        snapshot = snapshotSchema(table, Some(v)), advance = false,
        props = bucketPropsAt(table, v) +
          (SnapshotStore.KeyConsPropPrefix + name -> "") +
          (SnapshotStore.OpProp -> "drop-key-constraint")))
    }

  /** Active informational key constraints of a version: name ->
    * [[SnapshotStore.KeyConstraint]], from the chain-resolved
    * `graft.keycons.<name>` props (empty value = drop tombstone). */
  def keyConstraintsOf(table: String, v: Long)
      : Map[String, SnapshotStore.KeyConstraint] =
    resolvedProps(table, v).collect {
      case (k, json) if k.startsWith(SnapshotStore.KeyConsPropPrefix) &&
        json.nonEmpty =>
        import org.json4s._
        val o = jackson.JsonMethods.parse(json)
        def strs(field: String): Seq[String] = o \ field match {
          case JArray(xs) => xs.collect { case JString(s) => s }
          case _ => Nil
        }
        k.stripPrefix(SnapshotStore.KeyConsPropPrefix) ->
          SnapshotStore.KeyConstraint(
            kind = (o \ "kind") match { case JString(s) => s; case _ => "" },
            columns = strs("columns"),
            refTable = (o \ "refTable") match {
              case JString(s) => Some(s); case _ => None },
            refColumns = strs("refColumns"),
            rely = (o \ "rely") match { case JBool(b) => b; case _ => false })
    }

  /** `ALTER TABLE … SET TBLPROPERTIES`' engine: pin caller metadata onto
    * the table as a DATA-LESS chain link whose `_props.json` carries the
    * new pairs — `resolvedProps`' chain inheritance (later links override
    * earlier keys) IS table-property semantics, so nothing else is needed.
    * Content-neutral to feeds. Reserved `graft.*` keys refuse: they are
    * the store's own protocol (op tags, bucket claims, dropped-column
    * markers) and a user write could corrupt a layout claim. An EMPTY
    * value refuses too — it is the store's UNSET tombstone
    * ([[unsetTableProperties]]), the one divergence from engines that
    * admit empty-string property values. Same CAS-until-won liveness as
    * [[addColumns]]. */
  def setTableProperties(table: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "setTableProperties requires at least one pair")
    val reserved = props.keys.filter(_.toLowerCase.startsWith("graft."))
    require(reserved.isEmpty,
      s"setTableProperties on $table: key(s) ${reserved.mkString(", ")} are " +
        "reserved store protocol (graft.*)")
    val empties = props.collect { case (k, v) if v.isEmpty => k }
    require(empties.isEmpty,
      s"setTableProperties on $table: empty value for ${empties.mkString(", ")}" +
        " — an empty value is the store's UNSET tombstone; use " +
        "unsetTableProperties to forget a key")
    optimisticCommit(table, "setTableProperties")(v =>
      Some(propertiesLink(table, props, v)))
  }

  /** Data-less chain link carrying MAINTAINER-owned props — the
    * materialized views' horizon carriers, which are `graft.*` keys the
    * user-facing [[setTableProperties]] rightly refuses. Lets a view
    * refresh that folded NOTHING advance its horizon in one metadata
    * commit instead of rewriting the whole view's rows. The
    * retry-until-won face of [[commitMaintainerPropsIf]]: one link
    * ([[propertiesLink]]), two liveness policies. */
  private[graft] def commitMaintainerProps(table: String,
      props: Map[String, String]): Long =
    optimisticCommit(table, "commitMaintainerProps")(v =>
      Some(propertiesLink(table, props, v)))

  /** `ALTER TABLE … UNSET TBLPROPERTIES`' engine: forget keys as a
    * DATA-LESS chain link whose `_props.json` carries EMPTY values — the
    * same inheritance-safe drop-marker shape [[dropCheckConstraint]] uses
    * (later links override earlier keys, and an absent key cannot be
    * expressed down-chain, so "forgotten" is an override to empty).
    * [[tablePropertiesOf]] and the SQL faces filter tombstones out; a
    * later SET of the same key overrides the tombstone back to a value;
    * a base=None rewrite drops tombstones entirely (fresh chain, nothing
    * left to suppress). Reserved `graft.*` keys refuse like SET. Same
    * CAS-until-won liveness as [[addColumns]]. */
  def unsetTableProperties(table: String, keys: Seq[String],
      ifExists: Boolean = false): Long = {
    require(keys.nonEmpty, "unsetTableProperties requires at least one key")
    val reserved = keys.filter(_.toLowerCase.startsWith("graft."))
    require(reserved.isEmpty,
      s"unsetTableProperties on $table: key(s) ${reserved.mkString(", ")} " +
        "are reserved store protocol (graft.*)")
    optimisticCommit(table, "unsetTableProperties") { v =>
      val live = tablePropertiesOf(table, v)
      val missing = keys.filterNot(live.contains)
      if (missing.nonEmpty && !ifExists)
        throw new IllegalArgumentException(
          s"unsetTableProperties on $table: no such propert" +
            s"${if (missing.size == 1) "y" else "ies"} " +
            missing.mkString(", "))
      val present = keys.filter(live.contains)
      if (present.isEmpty) None
      else Some(commitWith(table, None, None, base = Some(v),
        snapshot = snapshotSchema(table, Some(v)), advance = false,
        props = present.map(_ -> "").toMap ++ bucketPropsAt(table, v) +
          (SnapshotStore.OpProp -> "unset-properties")))
    }
  }

  /** USER-VISIBLE table properties of a version — what `SHOW
    * TBLPROPERTIES` means: the chain-resolved props minus the store's
    * reserved `graft.*` protocol keys and minus UNSET tombstones
    * (empty values). [[resolvedProps]] stays the raw protocol view. */
  def tablePropertiesOf(table: String, v: Long): Map[String, String] =
    resolvedProps(table, v).filter { case (k, value) =>
      value.nonEmpty && !k.toLowerCase.startsWith("graft.") }

  /** DROP TABLE: remove the table's directory tree — every version, the
    * pointer, everything — under the table's pointer lock (no committer
    * can advance a pointer that is being deleted out from under it; a
    * commit racing the drop either completes first and is deleted with
    * the table, or finds its claimed directory gone and fails loudly).
    * The JVM-wide schema/stats memos for the table are PURGED: they are
    * keyed (root, table, version) and a re-created table reuses version
    * numbers, so a stale entry would serve the old table's schema for the
    * new one's v=1. Returns false if the table does not exist. */
  def dropTable(table: String): Boolean = {
    if (!Files.isDirectory(tableDir(table))) false
    else underPointerLocks(Seq(table)) {
      // Head VALUE first: on a conditional backend the pointer object
      // lives OUTSIDE the directory tree and would survive its deletion
      // — latestVersion would keep reporting a version, listTables would
      // list the ghost, createTable would refuse, reads would crash on
      // missing version dirs. clearHead (NOT delete) so the crash
      // residue stays benign (an unreferenced tree, not a dangling
      // pointer) WITHOUT surrendering the publish lease that is this
      // drop's mutual exclusion on a conditional backend — a full
      // delete here would retire the lease with the entry and let a
      // racing lock-free committer recreate the head mid-teardown.
      heads.clearHead(root, table)
      val w = Files.walk(tableDir(table))
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
      SnapshotStore.schemaCache.filterInPlace {
        case ((r, t, _), _) => !(r == root && t == table) }
      SnapshotStore.statsCache.filterInPlace {
        case ((r, t, _), _) => !(r == root && t == table) }
      SnapshotStore.ndvCache.filterInPlace {
        case ((r, t, _), _) => !(r == root && t == table) }
      SnapshotStore.histCache.filterInPlace {
        case ((r, t, _), _) => !(r == root && t == table) }
      SnapshotStore.cmsCache.filterInPlace {
        case ((r, t, _), _) => !(r == root && t == table) }
      // the whole entry (lease included) retires only now, with the
      // teardown complete — a post-drop committer recreating the table
      // starts from a genuinely clean slate
      heads.delete(root, table)
      true
    }
  }

  /** CREATE TABLE's engine: commit version 1 of a table that does not
    * exist yet as an EMPTY snapshot carrying only the schema (zero data
    * files — the pinned `_snapshot_schema.json` is the content). Refuses
    * an existing table (CREATE's contract; CREATE OR REPLACE is `commit`). */
  def createTable(table: String, schema: StructType): Long = {
    require(latestVersion(table).isEmpty,
      s"table $table already exists — use commit to replace its content")
    commit(table, spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
  }

  /** Lowercased names dropped anywhere in `v`'s base chain whose physical
    * data may therefore still exist in the chain's files — the set the
    * resurrection guard refuses to re-introduce. Per-link props, NOT
    * `resolvedProps` (compact strips the inherited copy exactly so a
    * rewritten chain forgets its drops). */
  def droppedColumnsOf(table: String, v: Long): Set[String] =
    chainOf(table, v).flatMap { l =>
      commitProps(table, l).get(SnapshotStore.DroppedColsProp).toSeq.flatMap {
        s =>
          org.json4s.jackson.JsonMethods.parse(s) match {
            case org.json4s.JArray(xs) =>
              xs.collect { case org.json4s.JString(n) => n }
            case _ => Nil
          }
      }
    }.toSet

  /** HASH-BUCKETED commit — the co-located-join layout (Iceberg `bucket`
    * partitioning / Hive bucketing's role): rows land in the file whose
    * part index equals `pmod(murmur3(bucketBy, 42), numBuckets)` (that IS
    * `repartition(n, col)`'s partition id, and the task partition index
    * names the file — the explicit count also opts the shuffle out of AQE
    * coalescing, which would otherwise merge buckets). The graft scan of
    * a bucket-consistent chain reports `KeyGroupedPartitioning(bucket(n,
    * col), n)`, so TWO tables bucketed the same way join with NO exchange
    * on either side (storage-partitioned join) — at 100 TB, the shuffle
    * this deletes is the fact⋈fact join's dominant cost. Requires
    * `spark.sql.sources.v2.bucketing.enabled=true` and resolution through
    * the SQL catalog (the bucket transform binds via FunctionCatalog). */
  def commitBucketed(table: String, df: DataFrame, bucketBy: String,
      numBuckets: Int, changeSet: Option[DataFrame] = None): Long =
    commitBucketed(table, df, Seq(bucketBy), numBuckets, changeSet)

  /** COMPOSITE-key form: `numBuckets` buckets PER COLUMN, so a k-column
    * key writes `numBuckets^k` files — partition index in mixed radix
    * over the per-column ids `bᵢ = pmod(murmur3(colᵢ, 42), n)`
    * ([[org.apache.spark.sql.graftbridge.BucketLayout]]). Each column
    * hashes INDEPENDENTLY because Spark's storage-partitioned joins
    * require single-reference partition transforms — the scan reports one
    * `bucket(n, colᵢ)` per column, and a multi-column equality join
    * covering the tuple plans with NO exchange on either side. */
  def commitBucketed(table: String, df: DataFrame, bucketBy: Seq[String],
      numBuckets: Int, changeSet: Option[DataFrame]): Long =
    commitBucketed(table, df, bucketBy,
      Seq.fill(bucketBy.length)(numBuckets), changeSet)

  def commitBucketed(table: String, df: DataFrame, bucketBy: Seq[String],
      numBuckets: Int): Long =
    commitBucketed(table, df, bucketBy, numBuckets, None)

  /** NON-UNIFORM composite form: explicit bucket count PER COLUMN —
    * `dims(i)` buckets for `bucketBy(i)`, `dims.product` files total.
    * The layout/decode/restore machinery always carried per-column dims
    * (mixed-radix indices, [[org.apache.spark.sql.graftbridge.BucketLayout]]);
    * this surfaces them so a hot leading column can get more buckets
    * than its sub-key — e.g. (16, 4) where the first key dominates
    * cardinality — instead of paying `n^k` uniform fan-out. */
  def commitBucketed(table: String, df: DataFrame, bucketBy: Seq[String],
      dims: Seq[Int], changeSet: Option[DataFrame]): Long = {
    require(bucketBy.length == dims.length,
      s"one bucket count per column: ${bucketBy.length} columns vs " +
        s"${dims.length} dims")
    validateBucketArgs(df.columns.toSeq, bucketBy, dims)
    // sortWithinPartitions: each bucket file lands SORTED by the bucket
    // key tuple, so a single-file-per-bucket scan can also report
    // per-partition ORDERING — an SMJ over two such tables then skips
    // BOTH sorts on top of skipping both exchanges (sort once at write,
    // not per query).
    val cols = bucketBy.map(org.apache.spark.sql.functions.col)
    commit(table,
      bucketRoute(df, bucketBy, dims).sortWithinPartitions(cols: _*),
      changeSet,
      props = SnapshotStore.bucketLayoutProps(bucketBy, dims) +
        (SnapshotStore.BucketSortedProp -> "true"))
  }

  /** Bucketed APPEND: the delta is bucketed exactly like the head (same
    * column(s), same counts — validated), so the chain STAYS storage-
    * partitioned-join eligible: bucket b of the snapshot is the union of
    * every link's bucket-b files, all holding only bucket-b rows. */
  def appendBucketed(table: String, rows: DataFrame, bucketBy: String,
      numBuckets: Int): Long =
    appendBucketed(table, rows, Seq(bucketBy), numBuckets)

  def appendBucketed(table: String, rows: DataFrame, bucketBy: Seq[String],
      numBuckets: Int): Long =
    appendBucketed(table, rows, bucketBy, Seq.fill(bucketBy.length)(numBuckets))

  /** NON-UNIFORM composite append — per-column dims, validated against
    * the head's claim exactly like the uniform form. */
  def appendBucketed(table: String, rows: DataFrame, bucketBy: Seq[String],
      dims: Seq[Int]): Long = {
    require(bucketBy.length == dims.length,
      s"one bucket count per column: ${bucketBy.length} columns vs " +
        s"${dims.length} dims")
    validateBucketArgs(rows.columns.toSeq, bucketBy, dims)
    // Layout validation BEFORE the auto-fold: the fold counts runs with
    // the caller's dims product, so a mismatched-dims append would
    // mis-attribute files to buckets, possibly trip the cap and pay an
    // O(table) compact — for an append the require below was always
    // going to refuse anyway.
    latestVersion(table).foreach { v =>
      val layout = bucketLayoutOf(table, v)
      require(layout.exists { case (head, headDims) =>
        headDims == dims && head.length == bucketBy.length &&
          head.lazyZip(bucketBy).forall(_.equalsIgnoreCase(_))
      },
        s"appendBucketed(${bucketBy.mkString(",")}, ${dims.mkString("x")}) onto " +
          s"$table whose head is ${layout.fold("unbucketed")(l =>
            s"bucketed ${l._1.mkString(",")}/${l._2.mkString("x")}")} " +
          "— mixed layouts would silently break co-partitioned joins")
    }
    // The fold runs INSIDE the over-cap append, before its delta lands:
    // an append that would cross the cap first collapses the chain, so
    // the claim never lapses and a SUSTAINED appender cannot starve the
    // fold — every over-cap appender is itself a folder.
    autoFoldSortedRuns(table, dims.product)
    val cols = bucketBy.map(org.apache.spark.sql.functions.col)
    appendFrom(table,
      bucketRoute(rows, bucketBy, dims).sortWithinPartitions(cols: _*),
      latestVersion(table),
      props = SnapshotStore.bucketLayoutProps(bucketBy, dims) +
        (SnapshotStore.BucketSortedProp -> "true"))
  }

  /** CONDITIONAL bucketed REWRITE — [[commitBucketed]] with
    * [[commitIfHead]]'s contract: the snapshot replaces the table ONLY
    * if the head still equals `expectedHead` (None = table must still be
    * absent); a lost race discards the candidate and returns None. The
    * full-rebuild path of incrementally-maintained bucketed views
    * ([[graft.graph.AdjacencyStore]]): the layout claim and the view's
    * horizon pin (`extraProps`) land atomically with the content. */
  def commitIfHeadBucketed(table: String, df: DataFrame,
      bucketBy: Seq[String], dims: Seq[Int], expectedHead: Option[Long],
      extraProps: Map[String, String] = Map.empty): Option[Long] = {
    require(bucketBy.length == dims.length,
      s"one bucket count per column: ${bucketBy.length} columns vs " +
        s"${dims.length} dims")
    validateBucketArgs(df.columns.toSeq, bucketBy, dims)
    val cols = bucketBy.map(org.apache.spark.sql.functions.col)
    val routed = bucketRoute(df, bucketBy, dims).sortWithinPartitions(cols: _*)
    val cand = commitWith(table, Some(routed), None, base = None,
      snapshot = rewriteSnapshotSchema(table, routed), advance = false,
      props = SnapshotStore.bucketLayoutProps(bucketBy, dims) +
        (SnapshotStore.BucketSortedProp -> "true") ++ extraProps)
    publishIf(table, cand, expectedHead)
  }

  /** CONDITIONAL bucketed append — [[appendBucketed]] with
    * [[commitIfHead]]'s contract: the delta lands ONLY if the table's
    * head still equals `expectedHead` at the CAS; a lost race discards
    * the candidate and returns None instead of relinking. The primitive
    * an INCREMENTALLY-MAINTAINED bucketed view needs (e.g. the adjacency
    * layout behind q117, [[graft.graph.AdjacencyStore]]): a blind relink
    * would land the same source delta twice when two maintainers race —
    * the loser must re-read the view horizon and re-derive, exactly like
    * [[MaterializedView]]'s refresh. `extraProps` (the view's horizon
    * pin) commit atomically with the link. */
  def appendBucketedIfHead(table: String, rows: DataFrame,
      bucketBy: Seq[String], dims: Seq[Int], expectedHead: Option[Long],
      extraProps: Map[String, String] = Map.empty): Option[Long] = {
    require(bucketBy.length == dims.length,
      s"one bucket count per column: ${bucketBy.length} columns vs " +
        s"${dims.length} dims")
    validateBucketArgs(rows.columns.toSeq, bucketBy, dims)
    expectedHead.foreach { v =>
      val layout = bucketLayoutOf(table, v)
      require(layout.exists { case (head, headDims) =>
        headDims == dims && head.length == bucketBy.length &&
          head.lazyZip(bucketBy).forall(_.equalsIgnoreCase(_))
      },
        s"appendBucketedIfHead(${bucketBy.mkString(",")}, " +
          s"${dims.mkString("x")}) onto $table whose head is " +
          s"${layout.fold("unbucketed")(l =>
            s"bucketed ${l._1.mkString(",")}/${l._2.mkString("x")}")} " +
          "— mixed layouts would silently break co-partitioned joins")
    }
    val cols = bucketBy.map(org.apache.spark.sql.functions.col)
    val routed = bucketRoute(rows, bucketBy, dims).sortWithinPartitions(cols: _*)
    val merged = mergedAppendSchema(table, expectedHead, routed.schema)
    val v = appendCandidate(table, routed, expectedHead, merged,
      SnapshotStore.bucketLayoutProps(bucketBy, dims) +
        (SnapshotStore.BucketSortedProp -> "true") ++ extraProps)
    // Auto-fold AFTER the landed delta (appendBucketed folds before;
    // here a pre-fold would advance the head and fail this very CAS):
    // an incrementally-maintained view's chain stays under the merge
    // fan-in cap without its maintainers ever compacting by hand. The
    // fold link inherits the view's props (horizon included), so
    // maintenance and folding compose.
    publishIf(table, v, expectedHead).map { won =>
      autoFoldSortedRuns(table, dims.product); won }
  }

  /** AUTO-FOLD on sorted-run fan-in — the missing twin of the DV chain
    * backstop (DvMaxChainRows): each bucket's per-file sorted runs are
    * k-way merged at read time, capped at MaxSortedRunsPerBucket open
    * readers, past which the scan silently drops the sortless-SMJ claim
    * until someone compacts by hand (the r18 gap). The layout-preserving
    * compact collapses the chain to one sorted file per bucket; a
    * compact lost to a sibling's fold re-checks a now-collapsed chain
    * and just proceeds. */
  private def autoFoldSortedRuns(table: String, total: Int): Unit =
    latestVersion(table).foreach { v =>
      if (bucketSortedOf(table, v)) {
        var tries = 3
        while (tries > 0 && latestVersion(table).exists(h =>
            maxRunsPerBucket(table, h, total).exists(_ >= sortedRunFoldCap))) {
          try { compact(table); tries = 0 }
          catch { case _: IllegalStateException => tries -= 1 }
        }
      }
    }

  private def validateBucketArgs(frameCols: Seq[String], bucketBy: Seq[String],
      dims: Seq[Int]): Unit = {
    require(dims.forall(_ > 0), "bucketed writes require numBuckets > 0")
    require(bucketBy.nonEmpty, "bucketed writes require at least one column")
    require(dims.map(_.toLong).product <= (1L << 20),
      s"bucket layout ${dims.mkString("x")} exceeds 2^20 total buckets")
    require(bucketBy.forall(!_.contains(",")),
      s"bucket column names cannot contain ',' (the composite-spec " +
        s"separator): ${bucketBy.mkString("; ")}")
    require(bucketBy.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
      .length == bucketBy.length,
      s"bucket columns must be distinct: ${bucketBy.mkString(",")}")
    bucketBy.foreach(b => require(frameCols.exists(_.equalsIgnoreCase(b)),
      s"bucket column $b is not in ${frameCols.mkString(", ")}"))
  }

  /** Route every row to EXACTLY the partition index its bucket layout
    * demands. Single-key: plain `repartition(n, col)` — the task index
    * already equals `pmod(murmur3(col, 42), n)`. Composite: compute the
    * mixed-radix index from the per-column hashes (`hash()` IS murmur3
    * seed 42), look up its ROUTING TOKEN — a precomputed int whose own
    * hash lands on that index — and repartition by the token
    * ([[org.apache.spark.sql.graftbridge.GraftBucketRouting]]). The token
    * column is dropped right after the exchange (Project preserves the
    * partitioning), so nothing extra lands in the files. */
  private def bucketRoute(df: DataFrame, bucketBy: Seq[String],
      dims: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.functions._
    if (bucketBy.length == 1)
      df.repartition(dims.head, col(bucketBy.head))
    else {
      val total = dims.product
      val route = "__graft_bucket_route"
      require(!df.columns.exists(_.equalsIgnoreCase(route)),
        s"column name $route is reserved by composite bucketing")
      val comps = bucketBy.lazyZip(dims).map { (c, n) =>
        val h = hash(col(c)) // Murmur3Hash(Seq(col), seed = 42)
        ((h % n) + n) % n
      }
      val idx = comps.tail.zip(dims.tail)
        .foldLeft(comps.head) { case (acc, (b, n)) => acc * n + b }
      // Small layouts inline the token table as a codegen'd array
      // literal; large ones would bloat every composite write plan
      // (2^20 buckets = a 4 MB literal serialized into plan AND
      // closures), so past 4096 the lookup rides a broadcast — the
      // executors fetch the array once, the plan carries a handle. The
      // broadcast is CACHED per (application, total): re-broadcasting
      // the same immutable array on every write of a frequently-
      // appended layout would leak driver/BlockManager memory for the
      // application lifetime.
      val tokenAt =
        if (total <= 4096) element_at(lit(
          org.apache.spark.sql.graftbridge.GraftBucketRouting.tokens(total)),
          idx + 1)
        else {
          val bc = org.apache.spark.sql.graftbridge.GraftBucketRouting
            .tokensBroadcast(df.sparkSession.sparkContext, total)
          udf((i: Int) => bc.value(i)).apply(idx)
        }
      df.withColumn(route, tokenAt)
        .repartition(total, col(route))
        .drop(route)
    }
  }

  /** The snapshot's bucket layout, iff EVERY chain link carries the same
    * one (a plain append, mutation, or compaction link breaks the claim —
    * its files are not bucket-attributed, so the scan must not report
    * co-partitioning). None for unbucketed or mixed chains. On an ID'd
    * chain each link's claimed column resolves through any later metadata
    * RENAME to its name AT THE HEAD (the hash is over the same physical
    * data whatever the column is called), so a rename link — which
    * re-stamps the claim under the new name — agrees with the pre-rename
    * links it extends. */
  /** The chain's bucket claim at `v`, as the pair every claim-preserving
    * write path needs: the RE-STAMPABLE props and the BUCKET-ATTRIBUTING
    * transform for data the commit writes (repartition by the claimed
    * spec — part index = bucket id, commitBucketed's own layout
    * contract). (empty, identity) on unclaimed chains. ONE definition so
    * the part-index-is-bucket-id contract can't drift across the
    * mutation/merge/compact/rebase sites. */
  private def bucketClaimOf(table: String, v: Long)
      : (Map[String, String], DataFrame => DataFrame) =
    bucketLayoutOf(table, v) match {
      case Some((cols, dims)) =>
        (bucketPropsAt(table, v), df => bucketRoute(df, cols, dims))
      case None => (Map.empty[String, String], identity[DataFrame] _)
    }

  /** The chain's RE-STAMPABLE bucket props at `v` (col/n/dims, names
    * rename-resolved to the head) — what every claim-preserving write
    * path copies onto its link. Empty on unclaimed chains. */
  private def bucketPropsAt(table: String, v: Long): Map[String, String] =
    bucketLayoutOf(table, v).fold(Map.empty[String, String]) {
      case (cols, dims) => SnapshotStore.bucketLayoutProps(cols, dims)
    }

  /** The ops seam for the sorted-run auto-fold threshold — defaults to
    * the scan's merge fan-in cap ([[SnapshotStore.MaxSortedRunsPerBucket]]);
    * specs lower it to trigger the fold cheaply or raise it to pin the
    * claim-drop behavior the cap guards. */
  private[graft] var sortedRunFoldCap: Int = SnapshotStore.MaxSortedRunsPerBucket

  /** The chain's maximum per-bucket sorted-RUN count at `v` — the number
    * of live part-named files landing in the fullest bucket, i.e. the
    * fan-in the read-side k-way merge would need. None when any link is
    * manifest-less or carries a non-part-named file (the sorted claim is
    * broken there anyway, so there is nothing to fold for). */
  private def maxRunsPerBucket(table: String, v: Long, total: Int)
      : Option[Int] = {
    val (_, dirs) = resolveVersionPaths(table, Some(v))
    val removed = removedInChain(table, v)
    val counts = new Array[Int](total)
    var max = 0
    val ok = dirs.forall { d =>
      val dirName = d.getFileName.toString
      val dirVersion = dirName.stripPrefix("v=").toLong
      fileStats(table, dirVersion) match {
        case Some(manifest) => manifest.keys.forall { f =>
          removed.contains(s"$dirName/$f") || {
            if (!org.apache.spark.sql.graftbridge.KeyGroupedParquetScan
                .isPartNamed(f)) false
            else {
              val b = org.apache.spark.sql.graftbridge.KeyGroupedParquetScan
                .bucketOf(f, total)
              counts(b) += 1
              if (counts(b) > max) max = counts(b)
              true
            }
          }
        }
        case None => false
      }
    }
    if (ok) Some(max) else None
  }

  /** The spec's String is the [[SnapshotStore.BucketColProp]] encoding —
    * comma-joined for composite keys (split with
    * [[SnapshotStore.bucketColsOf]]); the Int is the TOTAL partition
    * count (the per-column dims live in [[bucketLayoutOf]]). */
  def bucketSpecOf(table: String, v: Long): Option[(String, Int)] =
    bucketLayoutOf(table, v).map { case (cols, dims) =>
      (cols.mkString(","), dims.product)
    }

  /** The snapshot's full bucket layout — (key columns, per-column bucket
    * counts) — iff EVERY chain link carries the same one (a plain
    * append, mutation, or compaction link breaks the claim — its files
    * are not bucket-attributed, so the scan must not report
    * co-partitioning). None for unbucketed or mixed chains. On an ID'd
    * chain each link's claimed columns resolve through any later
    * metadata RENAME to their names AT THE HEAD (the hash is over the
    * same physical data whatever the column is called), so a rename link
    * — which re-stamps the claim under the new names — agrees with the
    * pre-rename links it extends. */
  def bucketLayoutOf(table: String, v: Long): Option[(Seq[String], Seq[Int])] = {
    val pinned = snapshotSchema(table, Some(v))
    val headById: Option[Map[Long, String]] =
      if (!SnapshotStore.schemaHasFieldIds(pinned)) None
      else Some(pinned.fields.flatMap(f =>
        SnapshotStore.fieldIdOf(f).map(_ -> f.name)).toMap)
    val specs = chainOf(table, v).map { l =>
      val p = commitProps(table, l)
      val col = p.get(SnapshotStore.BucketColProp).map(spec =>
        SnapshotStore.bucketColsOf(spec).map { c =>
          headById.flatMap { byId =>
            snapshotSchema(table, Some(l)).fields
              .find(_.name.equalsIgnoreCase(c))
              .flatMap(SnapshotStore.fieldIdOf).flatMap(byId.get)
          }.getOrElse(c)
        }.mkString(","))
      (col, p.get(SnapshotStore.BucketNProp), p.get(SnapshotStore.BucketDimsProp))
    }
    specs.head match {
      case (Some(c), Some(n), dims)
          if specs.forall(_ == (Some(c), Some(n), dims)) =>
        val cols = SnapshotStore.bucketColsOf(c)
        val parsedDims = dims.map(_.split(",").toSeq.map(_.toInt))
          .getOrElse(Seq(n.toInt))
        // a corrupt/mismatched dims prop must break the claim, not plan
        // a partition count the files don't have
        if (parsedDims.length == cols.length && parsedDims.product == n.toInt)
          Some((cols, parsedDims))
        else None
      case _ => None
    }
  }

  /** Every data-carrying chain link wrote its buckets SORTED by the
    * bucket column ([[SnapshotStore.BucketSortedProp]]) — the writer half
    * of the scan's per-partition ordering claim. The READ half (each
    * bucket holds at most one file, else the partition is a concat of
    * sorted runs, not a sorted run) is the connector's to check against
    * the actual file set. Data-less links (set-properties, pure-DV)
    * contribute no files and don't gate. */
  def bucketSortedOf(table: String, v: Long): Boolean =
    chainOf(table, v).forall { l =>
      commitProps(table, l).get(SnapshotStore.BucketSortedProp)
        .contains("true") ||
        // provably data-less (manifest present and empty): can't unsort.
        // A manifest-LESS link is unknown and gates.
        fileStats(table, l).exists(_.isEmpty)
    }

  /** `commit` with MULTI-COLUMN write clustering on a Z-order curve
    * ([[ZOrder]]): where `commitClustered(Seq(a, b))` sorts lexically and
    * only predicates on `a` prune, a Z-ordered commit makes the manifest's
    * zone maps prune on EVERY listed column (Delta OPTIMIZE ZORDER's
    * role). Same shuffle count as a clustered commit; one bounded sample
    * pass per column on top. */
  def commitZOrdered(table: String, df: DataFrame, zorderBy: Seq[String],
      changeSet: Option[DataFrame] = None, targetPartitions: Int = 0,
      props: Map[String, String] = Map.empty): Long =
    commit(table, ZOrder.clustered(df, zorderBy, targetPartitions),
      changeSet, props)

  def latestVersion(table: String): Option[Long] =
    heads.read(root, table).map(_.version)

  /** Read the current snapshot: the pointer is resolved NOW, after which
    * the returned DataFrame is bound to an immutable directory set. */
  def read(table: String): DataFrame = {
    // Pending-txn roll-forward BEFORE the pointer resolves, or this read
    // would pin the pre-transaction version recovery is about to advance.
    recoverPendingTxns()
    readAt(table, latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no committed version of $table")))
  }

  /** CONSISTENT MULTI-TABLE VERSION CUT — the READER half of the atomic
    * transaction surface. [[appendAll]]/[[deleteAll]]/[[mutateAll]] expose
    * a transaction's tables at one commit point (the `_txn/` intent), but
    * two successive [[read]] calls still straddle it: a reader loading
    * concepts at t1 and edges at t2 can observe a cascade's second half
    * without its first — the torn-read twin of the dangling-write problem
    * the intent protocol solved. The reference never faces this because
    * Postgres MVCC hands every statement a cross-table snapshot for free
    * (api/app/lib/age_client/query.py reads concept+edges inside one tx);
    * on the pointer store the cut must be constructed.
    *
    * Fast path (lock-free, seqlock-style double collect): resolve every
    * table's version (pending intents rolled forward first, exactly as
    * [[read]] does), resolve again — identical vectors mean no pointer
    * moved in the window, and since a transaction's pointer moves happen
    * entirely inside [[underPointerLocks]] with the intent applied by any
    * resolver that sees it, a stable vector is a transactionally
    * consistent cut: every transaction is in it fully or not at all.
    * Versions are monotonic, so ABA is impossible. Contended fallback
    * (after `maxRetries` unstable pairs): take every table's pointer lock
    * in sorted order — no writer can be mid-commit on any of these tables
    * while we hold them — and read the vector directly; a pending intent
    * from a CRASHED writer naming one of our tables sends us back out to
    * roll it forward first (we cannot recover in place: the roll-forward
    * re-acquires pointer FileLocks this thread already holds, which
    * throws in-JVM rather than blocks).
    *
    * The cut is a version VECTOR, so it composes with every version-
    * pinned surface: [[readAt]] ([[readAll]] is the one-call form),
    * `changesSince`, incremental catalogs. At 100 TB this is what makes
    * a multi-table consumer (the materialized concept↔edge views, a
    * backup, a training-data export) see the graph the writer committed,
    * not an interleaving of two of them. */
  def snapshotAll(tables: Seq[String], maxRetries: Int = 64)
      : Map[String, Long] = {
    require(tables.nonEmpty, "snapshotAll requires at least one table")
    val ts = tables.distinct.sorted
    def collectVector(): Seq[Long] = {
      recoverPendingTxns()
      ts.map(t => latestVersion(t).getOrElse(throw new IllegalArgumentException(
        s"snapshotAll: no committed version of $t")))
    }
    var prev = collectVector()
    var attempt = 0
    while (attempt < maxRetries) {
      val cur = collectVector()
      if (cur == prev) return ts.zip(cur).toMap
      prev = cur
      attempt += 1
    }
    // Sustained writer traffic kept the vector moving: stop chasing it and
    // serialize one read against the commit locks. Bounded loop: each pass
    // either returns, or found a crashed writer's pending intent — which
    // recoverPendingTxns then removes; live writers cannot hold an intent
    // naming our tables while we hold their locks.
    while (true) {
      recoverPendingTxns()
      val cut = underPointerLocks(ts) {
        if (pendingIntents().exists(_._2.exists(e => ts.contains(e._1)))) None
        else Some(ts.map(t => t -> latestVersion(t).getOrElse(
          throw new IllegalArgumentException(
            s"snapshotAll: no committed version of $t"))).toMap)
      }
      cut match {
        case Some(c) => return c
        case None => // crashed intent on one of our tables: recover, retry
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[snapshotAll]] + [[readAt]] in one call: every returned DataFrame is
    * pinned to the same transactionally consistent cut. */
  def readAll(tables: Seq[String]): Map[String, DataFrame] =
    snapshotAll(tables).map { case (t, v) => t -> readAt(t, v) }

  /** [[snapshotAll]] of whichever of `tables` exist (empty when none do).
    * The absent set is re-checked AFTER the cut and the cut retaken if it
    * changed: a transaction can CREATE an absent table and append to
    * present ones atomically, and the post-transaction cut of the present
    * tables paired with the new table read as absent is exactly the torn
    * view the cut exists to prevent. */
  @tailrec private[graft] final def snapshotPresent(tables: Seq[String])
      : Map[String, Long] = {
    val present = tables.filter(latestVersion(_).isDefined)
    val cut = if (present.isEmpty) Map.empty[String, Long]
      else snapshotAll(present)
    if (tables.filter(latestVersion(_).isDefined) == present) cut
    else snapshotPresent(tables)
  }

  /** Time travel: read a specific version — the multi-directory parquet
    * scan of its base chain under the pinned snapshot schema. Refuses a
    * version whose write never completed (no `_SUCCESS` marker) — an
    * in-flight or crashed sibling commit must not be readable as data. */
  def readAt(table: String, version: Long): DataFrame = {
    val (v, dirs) = resolveVersionPaths(table, Some(version))
    val removed = removedInChain(table, v)
    val f = schemaFile(table, v)
    val dvs = dvInChain(table, v)
    if (dvs.nonEmpty) {
      // Deletion vectors in the chain: resolve to live files and apply
      // the accumulated row-level anti-join (scanWithDv). Rarer than the
      // tombstone-only case — compaction folds DVs back to plain files.
      val schema =
        if (Files.exists(f)) readSchemaFile(f) else snapshotSchema(table, Some(v))
      val live = liveDataFiles(table, v)
      if (live.isEmpty) spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else scanWithDv(table, live, schema, dvs)
        .select(schema.fieldNames.map(org.apache.spark.sql.functions.col(_))
          .toIndexedSeq: _*)
    } else if (removed.nonEmpty) {
      // Tombstones present: resolve to an explicit LIVE-file list (chain
      // files minus removed keys) — still a plain pinned-schema parquet
      // scan, just file-grained instead of directory-grained. Delete
      // versions always pin a schema file, so the legacy fallbacks below
      // can't be needed here.
      val live = liveDataFiles(table, v).map(_.toString)
      val schema =
        if (Files.exists(f)) readSchemaFile(f) else snapshotSchema(table, Some(v))
      if (live.isEmpty) spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else spark.read.schema(schema).parquet(live: _*)
    } else {
      val paths = dirs.map(_.toString)
      if (Files.exists(f))
        spark.read.schema(readSchemaFile(f)).parquet(paths: _*)
      else if (paths.sizeIs == 1) spark.read.parquet(paths.head)
      else spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** Store-relative keys ("v=N/part-....parquet") of the chain files this
    * version's commit tombstoned (empty for non-delete versions). */
  def removedAt(table: String, v: Long): Seq[String] = {
    val f = removedFileOf(table, v)
    if (!Files.exists(f)) Seq.empty
    else org.json4s.jackson.JsonMethods.parse(Files.readString(f)) match {
      case org.json4s.JArray(xs) =>
        xs.collect { case org.json4s.JString(s) => s }
      case _ => Seq.empty
    }
  }

  /** Every file key tombstoned anywhere in `v`'s base chain — the set a
    * snapshot read of `v` must exclude. Empty (the overwhelmingly common
    * case) keeps reads on the whole-directory fast path. */
  def removedInChain(table: String, v: Long): Set[String] =
    chainOf(table, v).flatMap(removedAt(table, _)).toSet

  /** The deletion vector one version recorded (`_dv.json`): file key ->
    * sorted row indexes it deletes without rewriting the file. Empty for
    * versions with no DV sidecar. */
  def dvAt(table: String, v: Long): Map[String, Seq[Long]] = {
    val f = dvFileOf(table, v)
    if (!Files.exists(f)) Map.empty
    else org.json4s.jackson.JsonMethods.parse(Files.readString(f)) match {
      case org.json4s.JObject(fields) => fields.collect {
        case (k, org.json4s.JArray(xs)) =>
          k -> xs.collect {
            case org.json4s.JLong(i) => i
            case org.json4s.JInt(i)  => i.toLong
          }
      }.toMap
      case _ => Map.empty
    }
  }

  /** All deletion vectors accumulated along `v`'s base chain, merged per
    * file (row-index sets union — a later sparse delete on an already
    * DV'd file adds to its vector). Keys whose files a later version
    * tombstoned are dropped: the whole file is out of the scan anyway. */
  def dvInChain(table: String, v: Long): Map[String, Seq[Long]] = {
    val removed = removedInChain(table, v)
    chainOf(table, v).flatMap(l => dvAt(table, l).toSeq)
      .filterNot { case (k, _) => removed.contains(k) }
      .groupMapReduce(_._1)(_._2.toSet)(_ ++ _)
      .map { case (k, s) => k -> s.toSeq.sorted }
  }

  /** Spark-side store-relative file key of the scanned row's source file
    * — the expression twin of [[fileKey]] over `_metadata.file_path`. */
  private def fileKeyCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val parts = split(col("_metadata.file_path"), "/")
    concat(element_at(parts, -2), lit("/"), element_at(parts, -1))
  }

  /** DV-aware scan of explicit files under a pinned schema: the plain
    * parquet scan, minus rows the chain's deletion vectors killed (a
    * broadcast anti-join on (file key, row index) — O(DV rows), applied
    * ONLY when one of `files` actually carries DV entries; clean scans
    * never pay it). The helper columns `__file_key` / `__row_idx` are
    * KEPT so mutation passes can attribute matches to files; plain reads
    * re-select the schema columns. */
  private def scanWithDv(table: String, files: Seq[Path], schema: StructType,
      chainDv: Map[String, Seq[Long]]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val clash = schema.fieldNames.filter(n =>
      n.equalsIgnoreCase("__file_key") || n.equalsIgnoreCase("__row_idx"))
    require(clash.isEmpty,
      s"table $table reserves column name(s) ${clash.mkString(", ")} used " +
        "by the mutation scan's file attribution — rename the column(s)")
    val base = spark.read.schema(schema).parquet(files.map(_.toString): _*)
      .withColumn("__file_key", fileKeyCol)
      .withColumn("__row_idx", col("_metadata.row_index"))
    val keys = files.map(fileKey).toSet
    val relevant = chainDv.filter { case (k, _) => keys.contains(k) }
    if (relevant.isEmpty) base
    else {
      val pairs = relevant.toSeq
        .flatMap { case (k, idxs) => idxs.map(i => (k, i)) }
      val sp = spark
      import sp.implicits._
      base.join(broadcast(pairs.toDF("__file_key", "__row_idx")),
        Seq("__file_key", "__row_idx"), "left_anti")
    }
  }

  /** Data files of one version DIRECTORY, from the manifest when the
    * commit wrote one (no filesystem metadata calls — the 100 TB path)
    * and a real listing otherwise. */
  private def dataFilesOf(table: String, v: Long): Seq[Path] = {
    val dir = versionDir(table, v)
    fileStats(table, v) match {
      case Some(manifest) => manifest.keys.toSeq.sorted.map(dir.resolve)
      case None =>
        val s = Files.list(dir)
        try s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString)
        finally s.close()
    }
  }

  /** Store-relative tombstone key of a data file: its version directory
    * name plus its bare filename — stable under store relocation (no
    * absolute paths in sidecars) and under nothing else, which is exactly
    * right: version directories never rename once committed. */
  private def fileKey(p: Path): String =
    s"${p.getParent.getFileName}/${p.getFileName}"

  /** The LIVE data files of snapshot `v`: every chain directory's files
    * minus the chain's accumulated tombstones. */
  private def liveDataFiles(table: String, v: Long): Seq[Path] = {
    val removed = removedInChain(table, v)
    chainOf(table, v).flatMap(dataFilesOf(table, _))
      .filterNot(p => removed.contains(fileKey(p)))
  }

  /** Row-level DELETE at O(matched files) write cost — never a table
    * rewrite. Rows where `predicate` is TRUE are removed from the current
    * snapshot (SQL DELETE semantics: null-predicate rows survive); returns
    * the new version, or the unchanged current version when nothing
    * matched (no empty commit).
    *
    * Mechanics — copy-on-write at FILE granularity, the sidecar design
    * the file-grained scan units make native: one metadata-scale pass
    * finds the files containing at least one matching row (via
    * `_metadata.file_path`, so zone-map/row-group pruning on the
    * predicate bounds what is even read); ONLY those files are rewritten
    * minus their matching rows, committed as a chain link whose
    * `_removed.json` sidecar tombstones the replaced files. Readers —
    * `readAt` and the `graft` connector's [[graft.sources.GraftTable]]
    * alike — resolve the chain to live files (chain files minus
    * tombstones), so the scan stays a plain pinned-schema parquet scan:
    * no read-time anti-join, no per-row filtering, nothing that breaks
    * pushdown or columnar reads. A clustered/Z-ordered table localizes a
    * selective predicate to few files, which is what bounds the rewrite
    * at 100 TB (reference M4/M5 cascade deletes,
    * api/app/lib/age_client/query.py:277-483, were full filtered
    * rewrites). `compact` reads through tombstones, so compaction folds
    * them into a self-contained version and `vacuum` then reclaims the
    * replaced bytes.
    *
    * CONCURRENCY: one call into [[mutateAll]] over this table, so the
    * delete publishes through the `_txn/` intent like every transaction
    * and returns the table's new version. Its commit loop gives the
    * LIVENESS guarantee a bounded recompute loop cannot: a lost race
    * whose conflicting commits are all PURE APPENDS re-bases the
    * candidate over the appended files (work per round shrinks to the
    * delta, so a sustained appender cannot starve the delete), while
    * conflicts with sibling deletes/updates/compactions/rewrites discard
    * and recompute, bounded by `maxRetries` with backoff. Deletes record
    * no change set as inserts; the removed rows go to `_changes_removed`
    * for the change-DATA feed, while the insert-only streaming feed's
    * contract stays "rows `append` admitted" (a delete is "resubscribe"
    * there, as Delta CDF treats non-CDF commits). */
  def delete(table: String, predicate: org.apache.spark.sql.Column,
      maxRetries: Int = 5,
      dvMaxFraction: Double = SnapshotStore.DefaultDvMaxFraction): Long =
    mutateAll(deletes = Map(table -> predicate), maxRetries = maxRetries,
      dvMaxFraction = dvMaxFraction)(table)

  /** Every commit between `base` and `head` is a pure APPEND — `base`
    * is still in `head`'s chain and no link above it tombstoned
    * anything (delete/update links always carry tombstones; compactions
    * and rewrites are self-contained, which breaks the chain). Exactly
    * the conflicts whose effect is "files were added", against which
    * the candidate's survivors + tombstones remain valid as-is; how
    * [[mutateAll]]'s commit loop classifies each stale table's conflict. */
  private def pureAppendsBetween(table: String, base: Long, head: Long)
      : Boolean = {
      val chain = chainOf(table, head)
      val i = chain.indexOf(base)
      i >= 0 && chain.drop(i + 1).forall(l =>
        removedAt(table, l).isEmpty && dvAt(table, l).isEmpty)
    }

  /** Re-base an unexposed mutation candidate over pure-append conflicts
    * (the liveness path): scan ONLY the newly-appended files for
    * additional matches, fold their replacement rows / tombstones /
    * change images into the candidate's own directory, then relink it
    * above the new head — O(delta-since-base) work however hot the
    * appender. The mutation serializes AFTER the appends it scanned,
    * same as a recompute. [[mutateAll]]'s commit loop re-bases each stale
    * table's candidate this way instead of discarding the whole
    * transaction when every conflict is a pure append. */
  private def rebaseMutationCandidate(table: String, cand: Long, base: Long,
      head: Long, predicate: org.apache.spark.sql.Column, op: String,
      rewrite: (DataFrame, StructType) => DataFrame,
      changeSetOf: (DataFrame, StructType) => Option[DataFrame]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val hit = coalesce(predicate, lit(false))
      val newLinks = { val c = chainOf(table, head); c.drop(c.indexOf(base) + 1) }
      val schemaH = snapshotSchema(table, Some(head))
      val newFiles = newLinks.flatMap(dataFilesOf(table, _))
      val dir = versionDir(table, cand)
      val extraKeys =
        if (newFiles.isEmpty) Seq.empty[String]
        else spark.read.schema(schemaH).parquet(newFiles.map(_.toString): _*)
          .where(predicate).select(col("_metadata.file_path")).distinct()
          .collect().map(r => uriFileKey(r.getString(0))).toSeq.sorted
      if (extraKeys.nonEmpty) {
        val paths = extraKeys.map(k => tableDir(table).resolve(k).toString)
        val scan = spark.read.schema(schemaH).parquet(paths: _*)
        // Bucket attribution of the rebase's extra rewrite files: when the
        // candidate carries a claim AND the appends it re-bases over kept
        // the chain claim-consistent (appendBucketed races), the extra
        // survivors are repartitioned by the HEAD's resolved spec — same
        // part-index-is-bucket-id contract as the main commit — and the
        // claim survives, re-stamped under the head's (possibly renamed)
        // column name. A plain-append race already broke the chain claim
        // (bucketSpecOf(head) = None): strip the candidate's, because its
        // appended files here are not bucket-attributed.
        val candProps = commitProps(table, cand)
        val candClaims = candProps.contains(SnapshotStore.BucketColProp) ||
          candProps.contains(SnapshotStore.BucketNProp)
        val (headClaim, headBucketed) =
          if (candClaims) bucketClaimOf(table, head)
          else (Map.empty[String, String], identity[DataFrame] _)
        headBucketed(stampedWithIds(rewrite(scan, schemaH), schemaH))
          .write.mode("append").parquet(dir.toString)
        stampedWithIds(scan.where(hit), schemaH).write.mode("append")
          .parquet(dir.resolve("_changes_removed").toString)
        changeSetOf(scan, schemaH).foreach(c => stampedWithIds(c, schemaH)
          .write.mode("append").parquet(changesDir(table, cand).toString))
        val allKeys = (removedAt(table, cand) ++ extraKeys).distinct.sorted
        Files.writeString(removedFileOf(table, cand),
          org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
            org.json4s.JArray(allKeys.map(org.json4s.JString(_)).toList))))
        try FileStats.writeStatsFile(
          spark.sparkContext.hadoopConfiguration, dir)
        catch { case scala.util.control.NonFatal(_) => () }
        if (candClaims) {
          val rewriteProps =
            if (headClaim.nonEmpty) candProps ++ headClaim
            else candProps - SnapshotStore.BucketColProp -
              SnapshotStore.BucketNProp
          Files.writeString(propsFile(table, cand),
            org.json4s.jackson.JsonMethods.compact(
              org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
                rewriteProps.toList.sortBy(_._1).map { case (k, v2) =>
                  k -> org.json4s.JString(v2) }))))
        }
      }
      // CHECK-GROWTH RE-VALIDATION (the mutation twin of append-relink's,
      // SnapshotStore.scala relink): an addCheckConstraint commit carries
      // no tombstones and no DVs, so it classifies as a PURE-APPEND
      // conflict — and this candidate's written rows (update post-images,
      // rebase extras) were only ever validated against the WRITE-TIME
      // base's predicate set. Grown/changed predicates re-run over the
      // candidate's files, O(delta) with column pruning; a violation
      // discards the candidate and refuses loudly — exactly what a fresh
      // recompute against the new head would have done in commitWith.
      // Delete survivors alone cannot violate (they are base rows the
      // ADD-time validation already covered), so an empty candidate dir
      // skips the scan.
      val grownChecks = {
        val oldChecks = checkConstraintsOf(table, base)
        checkConstraintsOf(table, head).filter { case (n, sql) =>
          !oldChecks.get(n).contains(sql) }
      }
      if (grownChecks.nonEmpty) {
        val s0 = Files.list(dir)
        val hasParts = try s0.iterator().asScala.exists(p =>
          p.getFileName.toString.endsWith(".parquet")) finally s0.close()
        if (hasParts) {
          import org.apache.spark.sql.functions.expr
          val written = spark.read.schema(schemaH).parquet(dir.toString)
          grownChecks.find { case (_, sql) =>
            written.where(coalesce(expr(sql).cast("boolean"), lit(true)) ===
              lit(false)).head(1).nonEmpty
          }.foreach { case (n, sql) =>
            discardCandidate(table, cand)
            throw new IllegalArgumentException(
              s"$op to $table violates CHECK constraint $n ($sql) added " +
                "concurrently with the mutation — candidate discarded, " +
                "table unchanged")
          }
        }
      }
      // Relink above the new head (append's rebase-by-rename machinery):
      // marker dropped for the metadata rewrite, rename claims the fresh
      // number, `_base` repointed, schema re-pinned to the head's (the
      // appends may have added or widened columns — the candidate's own
      // narrower files read under the wider pinned schema exactly like
      // any evolved chain).
      Files.deleteIfExists(dir.resolve("_SUCCESS"))
      val next = renumberCandidate(table, cand)
      Files.writeString(baseFile(table, next), head.toString)
      Files.writeString(schemaFile(table, next), schemaH.json)
      Files.writeString(versionDir(table, next).resolve("_SUCCESS"), "")
      next
    }

  /** One UNEXPOSED mutation candidate against snapshot `v` — the write
    * step of [[mutateAll]], so of [[delete]], [[update]] and
    * [[deleteAll]]: matched-file scan, DV policy split ([[dvSplit]]),
    * rewrite/post-image data, tombstones, vector ([[vectorRecord]]) and
    * change images, committed unexposed through [[mutationCommit]]
    * (bucket-attributed, pointer untouched). [[merge]] shares those three
    * steps but not this one: a predicate counts matches per file in one
    * partially aggregated `groupBy(__file_key)`, while merge's cardinality
    * rule needs a `(__file_key, __row_idx)` grouping first — one path for
    * both would add a shuffle to dense deletes. None when nothing
    * matched. `rewrite(matchedFilesScan, schema)` returns the rows
    * replacing the matched files; `changeSetOf` the rows
    * recorded as the version's admitted change set (update's post-images;
    * None for delete). Matched rows (`predicate` TRUE, null-safe) are
    * always recorded to `_changes_removed` as the change-data feed's
    * delete images.
    *
    * DELETION VECTORS (the row-granular escape from copy-on-write's
    * worst case): one matching row in a fat, badly-clustered file forces
    * a whole-file rewrite — on a 100 TB table a sparse predicate
    * degrades toward O(table) write cost. The sparse files [[dvSplit]]
    * picks are NOT rewritten: the version records their matched rows'
    * indexes in a `_dv.json` sidecar, readers anti-join the accumulated
    * vectors (a broadcast of O(DV rows)), and `compact` folds the vectors
    * away like tombstones. `dvReplacement(matchedDvRows, schema)` contributes the
    * rows a DV'd file's matches are REPLACED by (update's post-images,
    * written as ordinary version data; None for delete). Write cost for
    * the sparse case: O(matched rows), not O(matched files × size). */
  private def mutationCandidate(table: String, v: Long,
      predicate: org.apache.spark.sql.Column, op: String,
      dvMaxFraction: Double)(
      rewrite: (DataFrame, StructType) => DataFrame,
      changeSetOf: (DataFrame, StructType) => Option[DataFrame],
      dvReplacement: (DataFrame, StructType) => Option[DataFrame])
      : Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val hit = coalesce(predicate, lit(false))
    val live = liveDataFiles(table, v)
    if (live.isEmpty) None
    else {
        val schema = snapshotSchema(table, Some(v))
        val selSchema = schema.fieldNames.map(col(_)).toIndexedSeq
        val chainDv = dvInChain(table, v)
        // Matched files + per-file matched-row counts in ONE pruned pass
        // (metadata scale: at most #files rows come back). The scan is
        // DV-aware: rows an earlier sparse delete already killed must not
        // re-match (they'd re-emit delete images into the change feed).
        val matchedCounts = scanWithDv(table, live, schema, chainDv)
          .where(predicate).groupBy(col("__file_key")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        if (matchedCounts.isEmpty) None
        else {
          val (cowKeys, dvKeys) =
            dvSplit(table, live, chainDv, matchedCounts, dvMaxFraction)
          def pathsOf(keys: Seq[String]): Seq[Path] =
            keys.map(k => tableDir(table).resolve(k))
          val matchedRows = scanWithDv(table, pathsOf(cowKeys ++ dvKeys),
            schema, chainDv).where(hit)
          val cowData =
            if (cowKeys.isEmpty) None
            else Some(rewrite(scanWithDv(table, pathsOf(cowKeys), schema,
              chainDv), schema).select(selSchema: _*))
          val dvMatched =
            if (dvKeys.isEmpty) None
            else Some(scanWithDv(table, pathsOf(dvKeys), schema, chainDv)
              .where(hit))
          val dvData = dvMatched.flatMap(m => dvReplacement(m, schema))
            .map(_.select(selSchema: _*))
          val data = (cowData.toSeq ++ dvData.toSeq)
            .reduceOption(_.unionByName(_))
          Some(mutationCommit(table, v, schema, data,
            changeSet = changeSetOf(matchedRows, schema), removed = cowKeys,
            removedRows = Some(matchedRows.select(selSchema: _*)),
            dv = dvMatched.fold(Map.empty[String, Seq[Long]])(vectorRecord),
            op = op))
        }
    }
  }

  /** The deletion-vector policy split of a row mutation's matched files;
    * called by [[mutationCandidate]] and [[merge]]. A file goes
    * row-granular when the manifest knows its LIVE row count (total minus
    * the chain's accumulated vector) and its matched fraction is within
    * `dvMaxFraction`; manifest-less files and dense hits take the
    * copy-on-write rewrite. The vector transits the driver and every
    * reader's broadcast, so when its rows would exceed
    * [[SnapshotStore.DvMaxRowsPerMutation]], every matched file rewrites.
    * `matched` holds (file key, matched live rows); returns the sorted
    * (copy-on-write keys, vectored keys). */
  private def dvSplit(table: String, live: Seq[Path],
      chainDv: Map[String, Seq[Long]], matched: Seq[(String, Long)],
      dvMaxFraction: Double): (Seq[String], Seq[String]) = {
    val liveTotals: Map[String, Long] = live.flatMap { p =>
      val dirV = p.getParent.getFileName.toString.stripPrefix("v=").toLong
      val k = fileKey(p)
      fileStats(table, dirV).flatMap(_.get(p.getFileName.toString))
        .map(st => k -> (st.rows -
          chainDv.get(k).map(_.size.toLong).getOrElse(0L)))
    }.toMap
    val (dv, cow) = matched.partition { case (k, c) =>
      dvMaxFraction > 0 && liveTotals.get(k).exists(t =>
        t > 0 && c.toDouble / t <= dvMaxFraction)
    }
    def keys(s: Seq[(String, Long)]) = s.map(_._1).sorted
    if (dv.iterator.map(_._2).sum > SnapshotStore.DvMaxRowsPerMutation)
      (keys(matched), Nil)
    else (keys(cow), keys(dv))
  }

  /** The deletion vector a row mutation records: the (file, row index) of
    * each of `dvMatched`'s rows, grouped by file and sorted — O(vectored
    * rows), which [[dvSplit]] bounds. Called by [[mutationCandidate]] and
    * [[merge]]. */
  private def vectorRecord(dvMatched: DataFrame): Map[String, Seq[Long]] =
    dvMatched.select("__file_key", "__row_idx").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSeq.sorted }

  /** Commit a row mutation's unexposed candidate over `v`; called by
    * [[mutationCandidate]] and [[merge]]. BUCKET-CLAIM PRESERVATION: a
    * pure-vector link (no data) moves no row, so the claim re-stamps
    * trivially. A link that WRITES files (copy-on-write survivors, update
    * post-images, merge inserts) keeps the claim too — by making the new
    * files bucket-attributed: `data` is repartitioned by the head's bucket
    * spec, so each part file holds only its bucket's rows and its part
    * index IS the bucket id, exactly commitBucketed's layout contract.
    * Delete survivors keep their key; a row whose bucket column is
    * assigned just lands in the new key's file — either way the layout
    * rule ("bucket b's files hold only bucket-b rows") holds, and a
    * mutation-heavy bucketed fact table keeps its zero-exchange joins
    * without waiting for a re-bucket. */
  private def mutationCommit(table: String, v: Long, schema: StructType,
      data: Option[DataFrame], changeSet: Option[DataFrame],
      removed: Seq[String], removedRows: Option[DataFrame],
      dv: Map[String, Seq[Long]], op: String): Long = {
    val (bucketProps, bucketed) = bucketClaimOf(table, v)
    commitWith(table, data.map(bucketed), changeSet = changeSet,
      base = Some(v), snapshot = schema, advance = false, removed = removed,
      removedRows = removedRows, dv = dv,
      props = bucketProps + (SnapshotStore.OpProp -> op))
  }

  /** Row-level UPDATE at O(matched files) write cost — `delete`'s
    * copy-on-write twin (reference M5 `merge_edge_types`,
    * vocabulary.py:701-841, is exactly this shape: rewrite a column
    * where a predicate holds). Rows where `predicate` is TRUE get each
    * `assignments` column replaced by its expression (evaluated against
    * the OLD row — assignments may reference any column); all other rows,
    * and all unmatched files, are untouched. Returns the new version, or
    * the unchanged current version when nothing matched.
    *
    * Mechanics: the files containing a match are rewritten ONCE with a
    * per-column `when(hit, assignment) otherwise(old)` projection —
    * matched and surviving rows land in the same rewrite, tombstoning
    * the replaced files exactly like `delete`. Assignments are cast to
    * the column's pinned type (an update never retypes; use
    * `commit`-rewrite + the widening rules for that).
    *
    * CHANGE FEEDS: an update is recorded as delete(pre-image) +
    * insert(post-image) — the pre-image rows go to `_changes_removed`
    * (CDF `_change_type='delete'`), the post-image rows are the
    * version's change SET (so the streaming insert feed and
    * `changesSince` see them as admitted rows, and
    * [[graft.core.Incremental.advanceSigned]] folds the net effect of
    * the update into a maintained aggregate exactly).
    *
    * CONCURRENCY: one call into [[mutateAll]] over this table, exactly
    * like `delete`: one `_txn/` intent, append-rebase liveness, and
    * bounded recompute over non-append conflicts.
    *
    * TYPE SAFETY ([[AssignmentGate]], shared with `merge`): each
    * assignment's resolved type must equal the pinned column type or
    * up-cast to it losslessly ([[Cast.canUpCast]]) — refused loudly up
    * front otherwise. Under non-ANSI evaluation a lossy
    * `Column.cast` (a non-numeric string into a long column) silently
    * NULLs every matched row, which is data corruption wearing a type
    * coercion's clothes; a caller who wants a parsing/lossy conversion
    * writes the cast explicitly in the assignment expression. */
  def update(table: String, predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      maxRetries: Int = 5,
      dvMaxFraction: Double = SnapshotStore.DefaultDvMaxFraction): Long =
    mutateAll(updates = Map(table -> ((predicate, assignments))),
      maxRetries = maxRetries, dvMaxFraction = dvMaxFraction)(table)

  /** The rewrite / change-set / DV-replacement functions of a predicate
    * UPDATE with `assignments`, for [[mutateAll]]'s per-table candidates.
    * Each function passes the snapshot schema it meets through the
    * [[AssignmentGate]] before projecting. */
  private def updateFns(predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column])
      : ((DataFrame, StructType) => DataFrame,
         (DataFrame, StructType) => Option[DataFrame],
         (DataFrame, StructType) => Option[DataFrame]) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(assignments.nonEmpty, "update requires at least one assignment")
    val hit = coalesce(predicate, lit(false))
    val gate = new AssignmentGate("update", assignments)
    def project(rows: DataFrame, schema: StructType,
        where: Option[org.apache.spark.sql.Column]): DataFrame = {
      gate.check(schema)
      rows.select(gate.project(schema, where)(f => col(f.name)): _*)
    }
    (
      (matchedScan, schema) => project(matchedScan, schema, Some(hit)),
      (matchedScan, schema) =>
        Some(project(matchedScan.where(hit), schema, None)),
      // A sparse update's DV'd rows are REPLACED by their post-images,
      // written as ordinary version data — delete(old row via vector) +
      // insert(new row in the delta) in one commit, O(matched rows).
      (dvMatched, schema) => Some(project(dvMatched, schema, None)))
  }

  /** The ONE assignment gate of the row mutations; built by [[updateFns]]
    * for `update`'s assignments and by [[merge]] for its `matchedUpdate`
    * and `insertAssignments`. Target columns match case-insensitively.
    * `check(schema, on)` refuses an assignment to a column `schema` lacks,
    * and one whose type — resolved plan-only against `on` applied to an
    * empty frame of `schema` — neither equals the column's type nor
    * up-casts to it losslessly ([[Cast.canUpCast]]). Under non-ANSI
    * evaluation a lossy `Column.cast` silently NULLs (a non-numeric string
    * into a long column) or truncates (7.9 into an int column), which is
    * data corruption wearing a type coercion's clothes; a caller who wants
    * the conversion writes the cast in the assignment expression. Each
    * snapshot schema is checked once. `project(schema, hit)(old)` is the
    * written row: each assigned column cast to its pinned type (only where
    * `hit`, when given), every other column `old(field)`. */
  private final class AssignmentGate(op: String,
      assignments: Map[String, org.apache.spark.sql.Column]) {
    private def assigned(name: String): Option[org.apache.spark.sql.Column] =
      assignments.collectFirst { case (k, c) if k.equalsIgnoreCase(name) => c }
    private var checkedFor = Option.empty[StructType]
    def check(schema: StructType,
        on: DataFrame => DataFrame = identity): Unit =
      if (!checkedFor.contains(schema)) {
        val unknown = assignments.keys.filterNot(k =>
          schema.fieldNames.exists(_.equalsIgnoreCase(k)))
        require(unknown.isEmpty,
          s"$op assigns to unknown column(s) ${unknown.mkString(", ")}")
        val probe = on(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
        schema.fields.foreach { f =>
          assigned(f.name).foreach { c =>
            val from = probe.select(c.as(f.name)).schema.head.dataType
            require(from == f.dataType ||
              org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, f.dataType),
              s"$op assigns ${from.simpleString} to column ${f.name}: " +
                s"${f.dataType.simpleString} — a lossy or invalid coercion " +
                "would silently NULL or truncate under non-ANSI semantics; " +
                "cast explicitly in the assignment expression if intended")
          }
        }
        checkedFor = Some(schema)
      }
    def project(schema: StructType, hit: Option[org.apache.spark.sql.Column])(
        old: org.apache.spark.sql.types.StructField => org.apache.spark.sql.Column)
        : Seq[org.apache.spark.sql.Column] =
      schema.fields.map { f =>
        assigned(f.name) match {
          case Some(c) =>
            val v = c.cast(f.dataType)
            hit.fold(v)(h => org.apache.spark.sql.functions.when(h, v)
              .otherwise(old(f))).as(f.name)
          case None => old(f).as(f.name)
        }
      }.toIndexedSeq
  }

  /** MERGE — the ANSI upsert over the snapshot store (the reference's
    * two-tier match-or-create ingestion shape, ingestion.py:194-487, as a
    * single atomic table operation; Delta MERGE's core subset):
    *
    *   - WHEN MATCHED THEN UPDATE SET `matchedUpdate` assignments
    *     (expressions over BOTH sides), or WHEN MATCHED THEN DELETE
    *     (`matchedDelete`), and/or
    *   - WHEN NOT MATCHED THEN INSERT (`insertNotMatched`): the explicit
    *     `insertAssignments` (expressions over the source), or by default
    *     source columns BY NAME into the target schema — extra source
    *     columns ignored, missing ones NULL, types gated by the same
    *     lossless up-cast rule as `update`.
    *
    * `condition` and assignment Columns reference the two sides through
    * the ALIASES `target` and `source` (`col("target.id") ===
    * col("source.id")`, `col("source.v") + col("target.v")`) — both
    * frames are aliased internally, the idiomatic Spark spelling of
    * Delta's target()/source() contract. `matchedUpdate` and
    * `insertAssignments` pass `update`'s [[AssignmentGate]] before a
    * candidate reads the target: an unknown target column or a lossy
    * coercion is refused with an IllegalArgumentException, and the table
    * is left as it was.
    *
    * Mechanics — `update`'s candidate steps on a two-sided match. Shared
    * with [[mutationCandidate]]: the DV policy split ([[dvSplit]]), the
    * vector record ([[vectorRecord]]), the bucket-claimed candidate commit
    * ([[mutationCommit]]) and the assignment gate. Merge's own: the
    * source is materialized ONCE (localCheckpoint — it is evaluated in
    * three passes and must not drift); one inner-join pass finds the
    * matched files AND the per-target-row match multiplicity (grouped on
    * the scan's (file, row-index) identity — multiple source matches for
    * one target row make an UPDATE ambiguous and fail loudly, ANSI/Delta's
    * cardinality rule; deletes tolerate them), a pass an insert-only merge
    * skips; copy-on-write files rewrite once via a left join (hit rows
    * updated or dropped, unhit rows copied), while vectored files' updated
    * rows ride as ordinary delta data; not-matched source rows append as
    * ordinary delta data. One commit carries the rewrite + inserts +
    * tombstones + vectors + change images (delete pre-images, insert
    * post-images — the feed's delete(pre)+insert(post) update contract
    * extends to merge unchanged); a merge with nothing to write commits
    * nothing.
    *
    * CONCURRENCY: CAS commit with RECOMPUTE on any conflict — unlike
    * delete/update, a merge cannot re-base over pure appends: an
    * appended row may flip a source row from not-matched (insert) to
    * matched (update), so the classification itself is stale. Bounded
    * by `maxRetries` with backoff. */
  def merge(table: String, source: DataFrame,
      condition: org.apache.spark.sql.Column,
      matchedUpdate: Option[Map[String, org.apache.spark.sql.Column]] = None,
      matchedDelete: Boolean = false,
      insertNotMatched: Boolean = true,
      insertAssignments: Option[Map[String, org.apache.spark.sql.Column]] = None,
      maxRetries: Int = 5,
      dvMaxFraction: Double = SnapshotStore.DefaultDvMaxFraction): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    require(!(matchedUpdate.isDefined && matchedDelete),
      "merge takes ONE matched action: update or delete")
    require(matchedUpdate.isDefined || matchedDelete || insertNotMatched,
      "merge with no actions is a no-op by construction — refuse loudly")
    val reserved = Seq("__src_hit", "__file_key", "__row_idx")
    val clash = source.columns.filter(c => reserved.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"merge source reserves column name(s) ${clash.mkString(", ")}")
    val src = source.localCheckpoint(true)
      .withColumn("__src_hit", lit(true)).alias("source")
    val updateGate = matchedUpdate.map(new AssignmentGate("merge", _))
    val insertGate = insertAssignments.map(new AssignmentGate("merge insert", _))

    /** One merge candidate against head `v` (None: a no-op merge). */
    def candidate(v: Long): Option[Long] = {
      val schema = snapshotSchema(table, Some(v))
      updateGate.foreach(_.check(schema,
        _.alias("target").join(src, condition, "inner")))
      insertGate.foreach(_.check(schema, _ => src))
      val selTarget = schema.fieldNames
        .map(n => col(s"target.$n").as(n)).toIndexedSeq
      def targetCol(f: org.apache.spark.sql.types.StructField) =
        col(s"target.${f.name}")
      // INSERT projection: explicit assignments (SQL MERGE's aligned
      // INSERT clause) or, by default, source columns BY NAME into the
      // target schema under the same lossless up-cast rule.
      def insertProjection: Seq[org.apache.spark.sql.Column] =
        insertGate match {
          case Some(g) => g.project(schema, None)(f => lit(null).cast(f.dataType))
          case None => schema.fields.map { f =>
            source.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
              case Some(s) =>
                require(s.dataType == f.dataType ||
                  org.apache.spark.sql.catalyst.expressions.Cast
                    .canUpCast(s.dataType, f.dataType),
                  s"merge inserts ${s.dataType.simpleString} into column " +
                    s"${f.name}: ${f.dataType.simpleString} — lossy/invalid; " +
                    "cast in the source")
                col(s"source.${s.name}").cast(f.dataType).as(f.name)
              case None => lit(null).cast(f.dataType).as(f.name)
            }
          }.toIndexedSeq
        }
      val chainDv = dvInChain(table, v)
      val live = liveDataFiles(table, v)
      def tgt(files: Seq[Path]): DataFrame =
        scanWithDv(table, files, schema, chainDv).alias("target")
      def pathsOf(keys: Seq[String]): Seq[Path] =
        keys.map(k => tableDir(table).resolve(k))

      // Pass 1: matched files, per-target-row match multiplicity, and
      // per-file matched-row counts (the DV split's input) in ONE job — at
      // most #files rows come back. An insert-only merge never consumes
      // matched files (no rewrite, no vectors, no images, no cardinality
      // check), so it skips this full target⋈source scan outright — its
      // only join is the left_anti below.
      val perFile =
        if (live.isEmpty || (matchedUpdate.isEmpty && !matchedDelete))
          Array.empty[(String, Long, Long)]
        else tgt(live).join(src, condition, "inner")
          .groupBy(col("__file_key"), col("__row_idx"))
          .agg(count(lit(1)).as("__m"))
          .groupBy(col("__file_key"))
          .agg(max(col("__m")).as("__mm"), count(lit(1)).as("__rows"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      if (matchedUpdate.isDefined && perFile.exists(_._2 > 1))
        throw new IllegalStateException(
          s"merge into $table: a target row matches multiple source rows — " +
            "UPDATE is ambiguous (ANSI cardinality violation); deduplicate " +
            "the source or tighten the condition")
      val (cowKeys, dvKeys) = dvSplit(table, live, chainDv,
        perFile.map(r => r._1 -> r._3).toSeq, dvMaxFraction)
      val hit = col("__src_hit").isNotNull
      // one joint matched-row frame over ALL matched files feeds the
      // change images and the vector record; the left-join rewrite runs
      // over the copy-on-write files only
      val matchedAll =
        if (perFile.isEmpty) None
        else Some(tgt(pathsOf(cowKeys ++ dvKeys)).join(src, condition, "inner"))
      val rewritten: Option[DataFrame] =
        if (cowKeys.isEmpty) None
        else {
          val j = tgt(pathsOf(cowKeys)).join(src, condition, "left_outer")
          Some(updateGate match {
            case Some(g) => j.select(g.project(schema, Some(hit))(targetCol): _*)
            case None => // matched DELETE: unhit rows survive (exactly once
              // even when a dropped row matched several source rows)
              j.where(!hit).dropDuplicates("__file_key", "__row_idx")
                .select(selTarget: _*)
          })
        }
      // every matched target row (copy-on-write AND vectored), once
      val matchedOnce = matchedAll.map(
        _.dropDuplicates("__file_key", "__row_idx"))
      def inDvFiles(j: DataFrame) = j.where(col("__file_key").isin(dvKeys: _*))
      val dvRecord =
        if (dvKeys.isEmpty) Map.empty[String, Seq[Long]]
        else vectorRecord(inDvFiles(matchedOnce.get))
      // post-images: multiplicity == 1 is enforced for update, so the
      // inner-join rows ARE the updated rows, no dedup needed; a DV'd
      // file's updated rows land as ordinary version data
      def postImages(j: DataFrame) = updateGate.map(g =>
        j.select(g.project(schema, None)(targetCol): _*))
      val dvPost =
        if (dvKeys.isEmpty) None else matchedAll.flatMap(j => postImages(inDvFiles(j)))
      val inserts: Option[DataFrame] =
        if (!insertNotMatched) None
        else {
          val notMatched =
            if (live.isEmpty) src
            else src.join(tgt(live), condition, "left_anti")
          Some(notMatched.select(insertProjection: _*))
        }

      // No-op guard: nothing to rewrite, nothing to vector, nothing to
      // insert — return the unchanged version instead of committing an
      // empty one. The isEmpty probe only runs on this already-rare path.
      if (cowKeys.isEmpty && dvRecord.isEmpty && inserts.forall(_.isEmpty)) None
      else Some(mutationCommit(table, v, schema,
        data = (rewritten.toSeq ++ dvPost.toSeq ++ inserts.toSeq)
          .reduceOption(_.unionByName(_)),
        changeSet = (matchedAll.flatMap(postImages).toSeq ++ inserts.toSeq)
          .reduceOption(_.unionByName(_)),
        removed = cowKeys,
        removedRows = matchedOnce.map(_.select(selTarget: _*)),
        dv = dvRecord, op = "merge"))
    }
    foldVectorsOverCap(table)
    optimisticCommit(table, "merge", maxRetries)(candidate)
  }

  /** [[fileKey]] for a `_metadata.file_path` URI: the last two path
    * segments ("v=N/part-....parquet"). */
  private def uriFileKey(filePath: String): String = {
    val parts = filePath.split('/')
    s"${parts(parts.length - 2)}/${parts(parts.length - 1)}"
  }

  /** The version a chain-link version extends (None = self-contained). */
  def baseOf(table: String, v: Long): Option[Long] = {
    val p = baseFile(table, v)
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** The base chain of `v`, oldest first, ending at `v` itself — the
    * directory set whose union IS snapshot(v). Bounded by appends since the
    * last compaction; strictly decreasing by construction, checked anyway
    * so a corrupt `_base` fails loudly instead of looping. */
  /** Per chain-version LOGICAL→PHYSICAL column name mapping (lowercased,
    * keyed "v=N"), for zone-map pruning after a metadata RENAME: a
    * pre-rename chain file holds a renamed column under its OLD name, so
    * the pruning layer must look that file's stats up under the old name
    * — and must not infer all-null from the new name's absence. Only
    * versions with a NON-identity mapping appear; rename-free chains (the
    * overwhelmingly common case) return empty, costing one memoized
    * schema read per chain link. */
  def physicalNamesByVersion(table: String, v: Long)
      : Map[String, Map[String, String]] = {
    val pinned = snapshotSchema(table, Some(v))
    if (!SnapshotStore.schemaHasFieldIds(pinned)) Map.empty
    else {
      val logicalById: Seq[(Long, String)] = pinned.fields.toSeq
        .flatMap(f => SnapshotStore.fieldIdOf(f).map(_ -> f.name.toLowerCase))
      chainOf(table, v).iterator.map { l =>
        val physById: Map[Long, String] = snapshotSchema(table, Some(l))
          .fields.flatMap(f =>
            SnapshotStore.fieldIdOf(f).map(_ -> f.name.toLowerCase)).toMap
        val m = logicalById.flatMap { case (id, ln) =>
          physById.get(id).filter(_ != ln).map(pn => ln -> pn) }.toMap
        s"v=$l" -> m
      }.filter(_._2.nonEmpty).toMap
    }
  }

  private def chainOf(table: String, v: Long): Seq[Long] = {
    @tailrec def walk(cur: Long, acc: List[Long]): List[Long] = baseOf(table, cur) match {
      case Some(b) =>
        require(b < cur, s"corrupt _base chain at v=$cur of $table (base $b)")
        walk(b, cur :: acc)
      case None => cur :: acc
    }
    walk(v, Nil)
  }

  /** The pinned snapshot schema of a version (chain-merged at append time);
    * falls back to reading parquet metadata for pre-schema-file (legacy)
    * versions. The fallback is a footer-merging read, which the SQL catalog
    * would otherwise pay on EVERY plan resolution of a legacy version — so
    * it is backfilled to `_snapshot_schema.json` (best-effort; a read-only
    * filesystem just keeps the slow path) and memoized per (root, table,
    * version), which is sound because committed versions are immutable. */
  def snapshotSchema(table: String, version: Option[Long] = None): StructType = {
    val v = version.orElse(latestVersion(table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version of $table"))
    val f = schemaFile(table, v)
    if (Files.exists(f)) readSchemaFile(f)
    else SnapshotStore.schemaCache.getOrElseUpdate((root, table, v), {
      val schema = readAt(table, v).schema
      try Files.writeString(f, schema.json)
      catch { case _: java.io.IOException => () }
      schema
    })
  }

  private def readSchemaFile(f: Path): StructType =
    DataType.fromJson(Files.readString(f)).asInstanceOf[StructType]

  /** Pin a read to an immutable (version, directory set): the pointer (or
    * the requested time-travel version) is resolved NOW and validated
    * against the `_SUCCESS` committed-write marker, then expanded to the
    * version's base chain. This is the single resolution step the `graft`
    * DataSource V2 connector (sources/GraftDataSource) performs at load
    * time — everything after it is a plain parquet scan of directories no
    * later commit ever mutates. */
  def resolveVersionPaths(table: String, version: Option[Long] = None): (Long, Seq[Path]) = {
    // A pending multi-table transaction (crash between intent and pointer
    // moves) rolls forward before anything resolves — one directory stat
    // on the overwhelmingly common no-txn path.
    recoverPendingTxns()
    val v = version.orElse(latestVersion(table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version of $table"))
    requireCommitted(table, v)
    (v, chainOf(table, v).map(versionDir(table, _)))
  }

  /** Refuse an uncommitted version — with a DIAGNOSIS. A complete write
    * (`_SUCCESS`) at or below the pointer with no `_committed` sentinel is
    * the signature of a store written before the sentinel protocol (round
    * 13): name [[migrateLegacyTable]] instead of the generic refusal, or
    * the migration is undiscoverable from the failure (every pre-sentinel
    * fixture call site had to know it by heart). The same signature can
    * also be a LIVE CAS loser awaiting relink/discard, which is exactly
    * why this does NOT auto-stamp — the message says when migration is
    * sound (quiesced store) and the caller decides. */
  private def requireCommitted(table: String, v: Long): Unit =
    if (!isCommitted(table, v)) {
      if (hasSuccessMarker(table, v) && latestVersion(table).exists(v <= _))
        throw new IllegalArgumentException(
          s"version $v of $table completed its write but carries no " +
            "_committed sentinel. If this store was written by a " +
            "pre-sentinel version of graft and is quiesced (no active " +
            s"""writers), run migrateLegacyTable("$table") once to stamp """ +
            "its committed history; if new-protocol writers are active, " +
            "this directory is an in-flight or crashed commit candidate " +
            "and must not be read")
      else throw new IllegalArgumentException(
        s"version $v of $table is not a committed version")
    }

  /** The change set a committed version recorded (None for rewrites and
    * pre-change-set versions): the rows `append` added at `version`,
    * pinned to the immutable `v=n/_changes/` directory. */
  def changesAt(table: String, version: Long): Option[DataFrame] = {
    requireCommitted(table, version)
    if (hasChanges(table, version))
      Some(spark.read.parquet(changesDir(table, version).toString))
    else None
  }

  /** Committed versions (ascending) that recorded a change set — the
    * versions the streaming change feed emits as micro-batches. */
  def changedVersions(table: String): Seq[Long] =
    history(table).filter(hasChanges(table, _))

  /** Align a version-local frame (a change set, delete images, or an old
    * snapshot) to the HEAD's column names by field ID: a metadata RENAME
    * between `v` and the head leaves older recorded frames under the old
    * names, and a feed consumer unioning across the rename would
    * otherwise see two columns where the table has one. Identity for
    * rename-free and legacy chains. */
  private def alignedToHead(table: String, v: Long, df: DataFrame): DataFrame = {
    val head = latestVersion(table).getOrElse(return df)
    val headSchema = snapshotSchema(table, Some(head))
    if (!SnapshotStore.schemaHasFieldIds(headSchema)) return df
    val headById: Map[Long, String] = headSchema.fields
      .flatMap(f => SnapshotStore.fieldIdOf(f).map(_ -> f.name)).toMap
    val renames: Map[String, String] = snapshotSchema(table, Some(v)).fields
      .flatMap(f => SnapshotStore.fieldIdOf(f).flatMap(headById.get)
        .filterNot(_.equalsIgnoreCase(f.name))
        .map(hn => f.name.toLowerCase -> hn)).toMap
    if (renames.isEmpty) df
    else df.select(df.columns.map(c =>
      renames.get(c.toLowerCase) match {
        case Some(hn) => df.col(s"`$c`").as(hn)
        case None => df.col(s"`$c`")
      }).toIndexedSeq: _*)
  }

  /** Batch face of the change feed (Delta's `table_changes` idiom): every
    * change set with version > `sinceVersion`, tagged with a `_version`
    * column — what an incremental BATCH job reads to catch up, instead of
    * re-scanning the snapshot. The plan is a union over the range's change
    * sets (one immutable parquet scan each); `vacuum(keepLast)` bounds how
    * far back a consumer can lag, exactly as for the streaming feed. */
  def changesSince(table: String, sinceVersion: Long = 0L): DataFrame = {
    import org.apache.spark.sql.functions.lit
    requireFeedReach(table, sinceVersion)
    val all = changedVersions(table)
    val vs = all.filter(_ > sinceVersion)
    vs.map(v => alignedToHead(table, v, changesAt(table, v).get)
        .withColumn("_version", lit(v)))
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        // Empty catch-up: derive the zero-row frame from the NEWEST change
        // set when one exists, so an incremental consumer stays strictly
        // delta-only (never touches the snapshot); fall back to the
        // snapshot only for a table that never recorded a change set.
        val proto = all.lastOption
          .map(v => alignedToHead(table, v, changesAt(table, v).get))
          .getOrElse(read(table))
        proto.limit(0).withColumn("_version", lit(0L))
      }
  }

  /** The rows a delete version removed (`_changes_removed/`, recorded by
    * `delete` at O(matched rows)); None for non-delete versions. */
  def deletedRowsAt(table: String, version: Long): Option[DataFrame] = {
    requireCommitted(table, version)
    val d = versionDir(table, version).resolve("_changes_removed")
    if (Files.exists(d.resolve("_SUCCESS")))
      Some(spark.read.parquet(d.toString))
    else None
  }

  /** Batch CHANGE-DATA feed (Delta CDF's `table_changes` shape): every
    * recorded row change with version > `sinceVersion`, tagged
    * `_change_type` ('insert' for append change sets, 'delete' for
    * delete versions' removed rows) and `_version`. Supersets
    * [[changesSince]] (which remains the insert-only feed the streaming
    * connector serves); same O(delta-directories) plan, same
    * `vacuum(keepLast)` lag bound. REWRITE versions (INSERT OVERWRITE /
    * bare commits) recorded no images, but — same-schema AND
    * LOSSLESS-WIDEN rewrites (every pre-rewrite column survives with its
    * type; the rewrite only ADDS columns) — their images are SYNTHESIZED
    * from the retained snapshots: the whole pre-rewrite snapshot as
    * 'delete' rows (new columns null-padded by the union) and the new
    * snapshot as 'insert' rows at the rewrite's version, O(old + new)
    * read and zero storage amplification. Folding the feed is then exact
    * across overwrites, including add-column overwrites. Drop/retype
    * rewrites stay out (resubscribe) —
    * [[nonFeedMutationsSince]] detects every rewrite either way, so a
    * consumer preferring one recompute over folding old+new images (a
    * maintained aggregate: recompute reads only NEW bytes) can branch.
    * Compactions are content-neutral and intentionally absent. */
  def changeFeedSince(table: String, sinceVersion: Long = 0L): DataFrame = {
    import org.apache.spark.sql.functions.lit
    requireFeedReach(table, sinceVersion)
    val inserts = changesSince(table, sinceVersion)
      .withColumn("_change_type", lit("insert"))
    val deletes = history(table).filter(_ > sinceVersion)
      .flatMap(v => deletedRowsAt(table, v)
        .map(d => alignedToHead(table, v, d).withColumn("_version", lit(v))
          .withColumn("_change_type", lit("delete"))))
    // `b` widens `a` losslessly: every column of `a` survives in `b`
    // with its exact type OR a natively-widened one (the same probe-
    // pinned int->long / float->double matrix the append path accepts —
    // [[widensTo(DataType,DataType)]]) — matched by field ID where both
    // carry IDs (rename-safe), by case-insensitive name otherwise — so
    // `b` at most ADDS columns (or reorders, or widens). Then the old
    // snapshot's delete images union into the feed frame with the new
    // columns null-padded and the narrow columns coerced up (Union's own
    // set-operation widening), and a fold over any pre-rewrite column is
    // exact: the upcast is value-preserving by the matrix's definition.
    // A DROP or LOSSY retype fails this and stays resubscribe.
    def rewriteWidens(a: Long, b: Long): Boolean = {
      val (sa, sb) = (snapshotSchema(table, Some(a)), snapshotSchema(table, Some(b)))
      val byId: Map[Long, org.apache.spark.sql.types.StructField] =
        sb.fields.flatMap(f => SnapshotStore.fieldIdOf(f).map(_ -> f)).toMap
      val byName = sb.fields.map(f => f.name.toLowerCase -> f).toMap
      sa.fields.forall { f =>
        SnapshotStore.fieldIdOf(f).flatMap(byId.get)
          .orElse(byName.get(f.name.toLowerCase))
          .exists(nf => nf.dataType == f.dataType ||
            widensTo(f.dataType, nf.dataType))
      }
    }
    val rewriteImages = nonFeedMutationsSince(table, sinceVersion).flatMap { v =>
      // The synthesized before-image is sound only when the resolved
      // predecessor is GUARANTEED the true one: with versions at or
      // below the vacuum horizon reclaimed, the true predecessor may be
      // gone and `history.filter(_ < v).lastOption` would resolve to an
      // OLDER ancestor (or nothing) — emitting those images silently
      // corrupts every fold. Refuse loudly instead, like any read
      // across vacuumed history.
      val h = vacuumHorizon(table)
      history(table).filter(_ < v).lastOption match {
        case Some(p) if p <= h => throw new IllegalStateException(
          s"change feed over $table: rewrite version $v's pre-image " +
            s"snapshot was vacuumed (nearest retained predecessor $p is " +
            s"at or below the retention horizon $h) — recompute from the " +
            "snapshot or resubscribe past the rewrite")
        case None if h > 0 => throw new IllegalStateException(
          s"change feed over $table: rewrite version $v's pre-image " +
            s"snapshot was vacuumed (no retained predecessor, horizon $h)" +
            " — recompute from the snapshot or resubscribe past the rewrite")
        case Some(p) if rewriteWidens(p, v) => Seq(
          alignedToHead(table, p, readAt(table, p)).withColumn("_version", lit(v))
            .withColumn("_change_type", lit("delete")),
          alignedToHead(table, v, readAt(table, v)).withColumn("_version", lit(v))
            .withColumn("_change_type", lit("insert")))
        case None => Seq( // a FIRST commit (nothing ever vacuumed): inserts
          alignedToHead(table, v, readAt(table, v)).withColumn("_version", lit(v))
            .withColumn("_change_type", lit("insert")))
        case _ => Nil // drop/retype rewrite: resubscribe
      }
    }
    (deletes ++ rewriteImages).foldLeft(inserts)(
      _.unionByName(_, allowMissingColumns = true))
  }

  /** The oldest committed version an incremental feed consumer can catch
    * up FROM: the smallest version STRICTLY ABOVE the vacuum horizon.
    * Every change set after it is retained (vacuum only ever reclaims
    * versions at or below the horizon it persists), and its own snapshot
    * is readable (a committed version's whole base chain survives
    * vacuum's chain-closure keep rule) — so `(snapshot at this version) +
    * (deltas after it)` is always a complete, gap-free reconstruction.
    * Exists whenever the table has a committed version: the head is
    * never reclaimed, so at least one version sits above the horizon. */
  def oldestFeedVersion(table: String): Long = {
    val h = vacuumHorizon(table)
    history(table).find(_ > h).getOrElse(throw new IllegalArgumentException(
      s"no committed version of $table above the vacuum horizon $h"))
  }

  /** BOOTSTRAP face of the change-data feed — the catch-up path for a
    * consumer positioned BELOW the vacuum horizon (Delta's "initial
    * snapshot + deltas" idiom for starting a CDF consumer on an already-
    * vacuumed table). [[changeFeedSince]] refuses such a consumer loudly
    * (its deltas are gone; an incremental fold would silently gap); this
    * emits the OLDEST RETAINED snapshot wholesale as 'insert' images
    * stamped at its version, followed by the true change-data feed from
    * that version on — a complete reconstruction whose cost is bounded by
    * O(oldest retained snapshot + retained deltas), never dependent on
    * the vacuumed history. A lagging [[MaterializedView]] refolds this
    * frame FROM EMPTY (its pre-horizon state's unknown overlap with the
    * bootstrap snapshot makes the old state unusable — that information
    * was vacuumed) and lands exactly on the maintained aggregate.
    *
    * Schema-CHANGING rewrites after the bootstrap version still mean
    * resubscribe, exactly as for [[changeFeedSince]] — detect them with
    * `nonFeedMutationsSince(table, oldestFeedVersion(table))`. */
  def changeFeedBootstrap(table: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val b = oldestFeedVersion(table)
    val snap = alignedToHead(table, b, readAt(table, b))
      .withColumn("_version", lit(b))
      .withColumn("_change_type", lit("insert"))
    snap.unionByName(changeFeedSince(table, b), allowMissingColumns = true)
  }

  /** Committed versions > `since` that mutated the table OUTSIDE the
    * change feed: bare-commit rewrites — versions with no recorded change
    * set that are neither compactions (content-neutral layout changes,
    * tagged via commit props) nor deletes (whose removed rows ARE in the
    * change-data feed). Since r15 the change-data feed SYNTHESIZES
    * same-schema rewrites' before/after images, so folding
    * [[changeFeedSince]] is exact across them too; this detector remains
    * the branch point for consumers preferring one recompute over folding
    * old+new images (a maintained aggregate: recompute reads only the NEW
    * bytes), and the only signal for schema-CHANGING rewrites, which no
    * feed serves. */
  def nonFeedMutationsSince(table: String, since: Long): Seq[Long] =
    history(table).filter(_ > since).filter { v =>
      !hasChanges(table, v) &&
        !commitProps(table, v).get(SnapshotStore.OpProp)
          .exists(SnapshotStore.ContentNeutralOps.contains) &&
        removedAt(table, v).isEmpty && dvAt(table, v).isEmpty
    }

  /** The change-set write is complete (its own `_SUCCESS` marker): the
    * parent version's marker alone can't vouch for `_changes`, which is
    * written after the main data. The pointer only moves after both. */
  private def hasChanges(table: String, v: Long): Boolean =
    Files.exists(changesDir(table, v).resolve("_SUCCESS"))

  /** Directory of a committed version's change set, for the connector's
    * micro-batch planner. */
  private[graft] def changesDirOf(table: String, v: Long): Path =
    changesDir(table, v)

  /** Directory of a version's recorded delete images (`_changes_removed`),
    * for the CDF stream's micro-batch planner. */
  private[graft] def removedRowsDirOf(table: String, v: Long): Path =
    versionDir(table, v).resolve("_changes_removed")

  /** The delete-image write is complete (own `_SUCCESS`, like `_changes`). */
  private[graft] def hasRemovedRows(table: String, v: Long): Boolean =
    Files.exists(removedRowsDirOf(table, v).resolve("_SUCCESS"))

  /** Committed versions (ascending) that recorded ANY change images —
    * admitted rows and/or delete images — the versions the streaming
    * CHANGE-DATA feed (`feed=cdf`) emits as micro-batches. Supersets
    * [[changedVersions]] by the delete/update versions. */
  def cdfVersions(table: String): Seq[Long] =
    history(table).filter(v =>
      hasChanges(table, v) || hasRemovedRows(table, v))

  /** The data write of the version directory COMPLETED: the
    * FileOutputCommitter writes `_SUCCESS` only after every part file is
    * in place. Necessary but NOT sufficient for commitment — a CAS
    * candidate is fully written long before it wins the pointer race. */
  private def hasSuccessMarker(table: String, v: Long): Boolean =
    Files.exists(versionDir(table, v).resolve("_SUCCESS"))

  /** The gate-visibility sentinel (`_committed`): written ONLY under the
    * pointer lock, by [[advancePointer]] (bare commits, unconditionally —
    * an overtaken rewrite is committed-but-superseded) or by a WINNING
    * [[casAdvance]] (OCC commits). Its absence is what keeps a
    * fully-written CAS loser — transiently sitting below a sibling's
    * higher pointer while it waits to relink, recompute, or be discarded —
    * out of `history`/`readAt`/change feeds/vacuum's committed set. */
  private def committedMarker(table: String, v: Long): Path =
    versionDir(table, v).resolve("_committed")

  /** True iff the version is COMMITTED: its write completed (`_SUCCESS`)
    * AND it was exposed through the pointer protocol (`_committed`). A
    * directory with data but no sentinel is an in-flight candidate or a
    * crashed/discard-pending loser — never data, never history. */
  private def isCommitted(table: String, v: Long): Boolean =
    hasSuccessMarker(table, v) &&
      Files.exists(committedMarker(table, v))

  /** Every existing version directory number, ascending (committed or not). */
  private def versionDirs(table: String): Seq[Long] = {
    val d = tableDir(table)
    if (!Files.exists(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
        .toSeq.sorted
      finally s.close()
    }
  }

  /** All COMMITTED versions, ascending: completed writes (`_SUCCESS`
    * present) at or below the pointer. A marker-less directory — in-flight,
    * crashed, or overtaken mid-write by a faster sibling — is not history
    * wherever it sits relative to the pointer. */
  def history(table: String): Seq[Long] = latestVersion(table) match {
    case None => Seq.empty
    case Some(latest) =>
      versionDirs(table).filter(v => v <= latest && isCommitted(table, v))
  }

  /** EXPOSE-time commit timestamp (epoch ms) of a committed version: the
    * `_committed` sentinel's content ([[stampCommitted]]). Sentinels
    * written before the timestamp convention (or by hand) fall back to
    * the sentinel file's mtime — best-effort, exactly like Delta's
    * pre-in-commit-timestamp resolution. None for uncommitted versions. */
  def commitTimeOf(table: String, v: Long): Option[Long] = {
    val m = committedMarker(table, v)
    if (!Files.exists(m)) None
    else {
      val s = Files.readString(m).trim
      if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong)
      else Some(Files.getLastModifiedTime(m).toMillis)
    }
  }

  /** `TIMESTAMP AS OF` resolution: the NEWEST committed version whose
    * expose time is at or before `tsMillis` — "the table as a reader at
    * that wall-clock instant saw it". Resolved by max-over-filter, NOT a
    * prefix scan: stamps are USUALLY monotonic in version order
    * ([[stampCommitted]]'s clamp), but two committed versions can carry
    * inverted stamps — a committed-but-superseded bare commit is stamped
    * AFTER the higher head that overtook it (the clamp only pushes
    * forward), and [[migrateLegacyTable]]'s mtime fallbacks carry no
    * ordering at all — and a prefix scan would stop at the inversion,
    * permanently resolving a window of timestamps to a version older
    * than what a reader actually saw. A timestamp before the first
    * commit refuses loudly (nothing existed to read), mirroring
    * Delta/Iceberg semantics. */
  def versionAtTimestamp(table: String, tsMillis: Long): Long = {
    val h = history(table)
    if (h.isEmpty)
      throw new IllegalArgumentException(s"no committed version of $table")
    val at = h.filter(v => commitTimeOf(table, v).exists(_ <= tsMillis))
    at.lastOption.getOrElse(throw new IllegalArgumentException(
      s"timestamp $tsMillis ms predates the earliest commit of $table " +
        s"(${h.flatMap(v => commitTimeOf(table, v)).minOption.getOrElse(-1L)}" +
        " ms) — nothing existed to read"))
  }

  // ---- Multi-table atomic commit ------------------------------------------

  private def txnDir: Path = Paths.get(root, "_txn")

  /** ATOMIC MULTI-TABLE APPEND — the reference's ingestion-transaction
    * shape (concepts + instances + sources + epoch written in ONE Postgres
    * tx, api/app/lib/age_client/ingestion.py:31-152), on the pointer
    * store. All tables' deltas commit together or none do; a reader can
    * never observe table A's half of an ingest without table B's.
    *
    * Protocol (write-ahead intent + roll-forward):
    *   1. Every table's delta writes as an ordinary UNEXPOSED candidate
    *      (no sentinel, pointer untouched), the tables side by side, one
    *      thread each ([[appendAllPrepare]]). A refused or failed write
    *      discards every candidate the others wrote before its error is
    *      rethrown. A crash here leaves invisible orphans — NEITHER table
    *      exposed; vacuum reclaims them.
    *   2. Under the root monitor + every table's pointer file lock (sorted
    *      order, deadlock-free), the bases are re-validated; if any table
    *      moved, its candidate RELINKS onto the new head (append's rebase
    *      machinery — appends commute) and the multi-CAS retries
    *      ([[appendAllCommit]]).
    *   3. With all bases current, [[publishTxn]]: a TXN INTENT file
    *      (table -> version) lands in `_txn/` by atomic rename. THIS is
    *      the commit point: a crash after it rolls FORWARD — recovery
    *      stamps the sentinels and advances the remaining pointers — so
    *      the transaction is again all-or-none, just 'all' this time.
    *   4. Sentinels + pointer moves per table, then the intent is removed.
    *
    * Recovery runs from [[recoverPendingTxns]] — invoked by every
    * resolution that notices a pending `_txn/` entry, by the next
    * `appendAll`, and by `vacuum` (so a txn-pending candidate is never
    * reclaimed as an orphan). Returns the committed version per table;
    * an empty delta commits nothing and is absent ([[appendAllPrepare]]). */
  def appendAll(rows: Map[String, DataFrame]): Map[String, Long] = {
    require(rows.nonEmpty, "appendAll requires at least one table")
    recoverPendingTxns()
    appendAllCommit(appendAllPrepare(rows), rows).get // no read set: never None
  }

  /** [[appendAll]] with READ-SET VALIDATION — the SERIALIZABLE commit a
    * match-or-create pipeline needs: `readSet` names the (table →
    * version) cut the caller DERIVED its deltas from, and the commit
    * succeeds only if every guarded table's head still equals that cut
    * at the transaction point — otherwise None, NOTHING committed, and
    * the caller re-reads, re-matches, and retries. Where plain
    * `appendAll` relinks a stale candidate over the sibling's appends
    * (sound for content-independent deltas), that rebase is exactly the
    * write-skew hole for match-or-create: the sibling may have CREATED
    * the concept this batch also creates, and blind rebase lands the
    * duplicate. Guarded tables need not carry writes (an empty delta
    * still validates the read), and un-guarded write tables (the epoch
    * log) relink as usual. The reference gets this from Postgres
    * serializable transactions (ingestion.py:31-152); here it is OCC
    * read-set validation over the pointer protocol: [[appendAll]]'s
    * commit loop ([[appendAllCommit]]) with the read set, publishing
    * through the same [[publishTxn]]. */
  def appendAllSerialized(rows: Map[String, DataFrame],
      readSet: Map[String, Option[Long]]): Option[Map[String, Long]] = {
    require(rows.nonEmpty, "appendAllSerialized requires at least one table")
    recoverPendingTxns()
    // cheap pre-check before paying the candidate writes; a head that
    // moves later fails the commit loop's validation (pointers only move
    // forward, so a candidate based past the cut cannot pass it)
    if (readSet.exists { case (t, v) => latestVersion(t) != v }) None
    else appendAllCommit(appendAllPrepare(rows), rows, readSet)
  }

  /** ATOMIC MULTI-TABLE DELETE — the reference's CASCADE-delete shape
    * (learned-concept delete removes the concept row AND its owned
    * edges/instances in one tx, api/app/lib/age_client/query.py:277-483):
    * every table's predicate-delete commits together or not at all, so no
    * reader can ever observe the dangling half of a cascade (an edge
    * whose concept is gone, or a concept whose edges outlived it).
    * [[mutateAll]] with deletes only. */
  def deleteAll(predicates: Map[String, org.apache.spark.sql.Column],
      maxRetries: Int = 5,
      dvMaxFraction: Double = SnapshotStore.DefaultDvMaxFraction)
      : Map[String, Long] =
    mutateAll(deletes = predicates, maxRetries = maxRetries,
      dvMaxFraction = dvMaxFraction)

  /** ATOMIC ROW MUTATION — per-table predicate DELETEs and predicate
    * UPDATEs committing at one point, and the store's ONE mutation commit
    * loop: single-table [[delete]] and [[update]] are calls into it over
    * their own table. The multi-table form is the reference's
    * reassign-then-dissolve shape (move an ontology's members, update,
    * AND retire the ontology row, delete, in one tx:
    * ontology_scoring.py:447-731). A table may appear in `deletes` or
    * `updates`, not both (one mutation per table per tx — split the
    * predicate instead). Returns every table's version: the new one, or
    * the unchanged head when its predicate matched nothing.
    *
    * Mechanics: each round folds over-cap vector chains
    * ([[foldVectorsOverCap]]), then prepares every table's unexposed
    * candidate against its head ([[mutationCandidate]]: matched-file scan,
    * DV policy split, bucket-attributed survivors, tombstones, delete
    * images); a refused or failed prepare discards the candidates already
    * written before it rethrows. [[SnapshotStore.testRaceHook]] fires
    * once per round; then,
    * under the sorted pointer locks, every table's base is re-validated
    * and [[publishTxn]] lands the `_txn/` intent (the roll-forward point —
    * a crash after it completes the WHOLE transaction via
    * [[recoverPendingTxns]]), moves the pointers and removes the intent.
    * Tables whose predicate matched nothing participate in the validation
    * (the transaction serializes against them too: a sibling landing on a
    * no-match table could have added rows the predicate now matches) but
    * commit no version.
    *
    * CONTENTION: when EVERY stale table's conflict is a pure APPEND
    * ([[pureAppendsBetween]]), each candidate re-bases in place over the
    * appended delta ([[rebaseMutationCandidate]]), O(delta-since-base)
    * however hot the appenders, and a stale table that matched nothing
    * re-prepares against its new head. Rebase rounds are not counted
    * against `maxRetries`: each serializes after appends some writer
    * committed, so a sustained appender cannot starve a mutation. Any
    * NON-append conflict (sibling delete/update/compact/rewrite) discards
    * ALL candidates and re-prepares against the new heads, bounded by
    * `maxRetries` with [[recomputeBackoff]] (rewrites don't commute with
    * deletes); out of budget, it fails loudly naming the operation —
    * `delete(t)`/`update(t)` for one table, `mutateAll(t, u)` otherwise. */
  def mutateAll(
      deletes: Map[String, org.apache.spark.sql.Column] = Map.empty,
      updates: Map[String, (org.apache.spark.sql.Column,
        Map[String, org.apache.spark.sql.Column])] = Map.empty,
      maxRetries: Int = 5,
      dvMaxFraction: Double = SnapshotStore.DefaultDvMaxFraction)
      : Map[String, Long] = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    require(deletes.nonEmpty || updates.nonEmpty,
      "mutateAll requires at least one table")
    val both = deletes.keySet & updates.keySet
    require(both.isEmpty,
      s"mutateAll: table(s) ${both.mkString(", ")} appear in deletes AND " +
        "updates — one mutation per table per transaction")
    val tables = (deletes.keySet ++ updates.keySet).toSeq.sorted
    // Each table's half, built once (an update without assignments is
    // refused here): predicate, op tag and the rewrite functions that
    // PREPARE a candidate and RE-BASE it over pure-append conflicts.
    val fns = tables.map { t =>
      t -> (deletes.get(t) match {
        case Some(pred) =>
          val hit = coalesce(pred, lit(false))
          (pred, "delete",
            (matchedScan: DataFrame, _: StructType) => matchedScan.where(not(hit)),
            (_: DataFrame, _: StructType) => None,
            (_: DataFrame, _: StructType) => None)
        case None =>
          val (pred, assignments) = updates(t)
          val (rw, cs, dv) = updateFns(pred, assignments)
          (pred, "update", rw, cs, dv)
      })
    }.toMap
    val name = tables match {
      case Seq(t) => s"${fns(t)._2}($t)"
      case _ => s"mutateAll(${tables.mkString(", ")})"
    }
    recoverPendingTxns()
    var retriesLeft = maxRetries
    def backstopAndBases(): Map[String, Long] = {
      tables.foreach(foldVectorsOverCap)
      tables.map { t =>
        t -> latestVersion(t).getOrElse(throw new IllegalArgumentException(
          s"no committed version of $t"))
      }.toMap
    }
    var bases: Map[String, Long] = backstopAndBases()
    def prepare(t: String): Option[Long] = {
      val (pred, op, rw, cs, dv) = fns(t)
      mutationCandidate(t, bases(t), pred, op, dvMaxFraction)(
        rewrite = rw, changeSetOf = cs, dvReplacement = dv)
    }
    // every table's candidate against `bases`; nothing orphaned on a refusal
    def prepareAll(): Map[String, Option[Long]] = {
      var done = Map.empty[String, Option[Long]]
      try tables.foreach(t => done += t -> prepare(t))
      catch { case e: Throwable =>
        discardCandidates(done.collect { case (t, Some(c)) => t -> c }, Some(e))
        throw e
      }
      done
    }
    var cands = prepareAll()
    while (true) {
      val withCand = tables.filter(cands(_).isDefined)
      if (withCand.isEmpty) return bases // nothing matched anywhere: no-op tx
      SnapshotStore.testRaceHook() // spec seam: force a sibling commit
      val committed = underPointerLocks(tables) {
        tables.foreach(applyPendingIntentsFor) // crashed-txn intents first
        val stale = tables.filter(t => !latestVersion(t).contains(bases(t)))
        if (stale.nonEmpty) None
        else {
          publishTxn(withCand.map(t => t -> cands(t).get).toMap)
          Some(tables.map(t => t -> cands(t).getOrElse(bases(t))).toMap)
        }
      }
      committed match {
        case Some(r) => return r
        case None =>
          val staleTables = tables.filter(t =>
            !latestVersion(t).contains(bases(t)))
          val heads = staleTables.map(t => t -> latestVersion(t).getOrElse(
            throw new IllegalStateException(
              s"pointer of $t vanished mid-transaction"))).toMap
          if (staleTables.nonEmpty && staleTables.forall(t =>
              pureAppendsBetween(t, bases(t), heads(t)))) {
            // Pure-append liveness path (see CONTENTION above). A failure
            // mid-rebase (e.g. the grown-CHECK refusal) discards every
            // remaining candidate before rethrowing.
            try staleTables.foreach { t =>
              val (pred, op, rw, cs, _) = fns(t)
              val rebased = cands(t) match {
                case Some(c) =>
                  val r = rebaseMutationCandidate(t, c, bases(t),
                    heads(t), pred, op, rw, cs)
                  bases += t -> heads(t)
                  Some(r)
                case None =>
                  bases += t -> heads(t)
                  prepare(t)
              }
              cands += t -> rebased
            } catch { case e: Throwable =>
              discardCandidates(tables.flatMap(t => cands(t).map(t -> _)), Some(e))
              throw e
            }
          } else {
            withCand.foreach(t => discardCandidate(t, cands(t).get))
            if (retriesLeft == 0) throw new IllegalStateException(
              s"$name lost the commit race to conflicting rewrites " +
                s"$maxRetries times — retry later or widen maxRetries " +
                "(pure-append contention re-bases and cannot starve this)")
            recomputeBackoff(maxRetries - retriesLeft)
            retriesLeft -= 1
            bases = backstopAndBases()
            cands = prepareAll()
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Steps 2-4 of [[appendAll]] and [[appendAllSerialized]] — their ONE
    * commit loop (multi-CAS with relink-on-stale), exposed so a spec can
    * force a sibling commit between prepare and commit. Each round takes
    * every write and guarded table's publish exclusion, then:
    *  - a guarded head moved off its `readSet` cut (a serialization
    *    conflict): every candidate is discarded, None;
    *  - a write table went stale (a sibling committed to it): its
    *    candidate relinks onto the new head (schema re-merged, retypes
    *    re-checked) and the round retries — every round some writer
    *    commits, so no livelock. A relink refusal discards EVERY
    *    remaining candidate before it rethrows: nothing exposed, nothing
    *    orphaned;
    *  - all bases current: [[publishTxn]] (nothing if every delta was empty).
    * [[SnapshotStore.testRaceHook]] fires once per round, before the
    * exclusion is taken. An empty `readSet` ([[appendAll]]) never
    * answers None. */
  private[graft] def appendAllCommit(cands0: Map[String, (Long, Option[Long])],
      rows: Map[String, DataFrame],
      readSet: Map[String, Option[Long]] = Map.empty)
      : Option[Map[String, Long]] = {
    val writeTables = cands0.keys.toSeq.sorted
    val lockTables = (writeTables ++ readSet.keys).distinct.sorted
    var cands = cands0
    def versions = cands.map { case (t, (v, _)) => t -> v }
    while (true) {
      SnapshotStore.testRaceHook() // spec seam: force a sibling commit
      val stale = underPointerLocks(lockTables) {
        lockTables.foreach(applyPendingIntentsFor) // crashed-txn intents first
        if (readSet.exists { case (t, v) => latestVersion(t) != v }) None
        else {
          val s = writeTables.filter(t => latestVersion(t) != cands(t)._2)
          if (s.isEmpty && cands.nonEmpty) publishTxn(versions)
          Some(s)
        }
      }
      stale match {
        case None => discardCandidates(versions); return None
        case Some(Nil) => return Some(versions)
        case Some(s) =>
          try s.foreach { t =>
            val head = latestVersion(t).getOrElse(throw new IllegalStateException(
              s"pointer of $t vanished during appendAll"))
            cands += t -> ((relink(t, cands(t)._1, head, rows(t).schema), Some(head)))
          } catch { case e: Throwable =>
            discardCandidates(versions, Some(e))
            throw e
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The ONE multi-table publish step. The caller holds every table's
    * publish exclusion ([[underPointerLocks]]) and has validated every
    * base. The `_txn/` intent lands first — THE commit point: a crash
    * after it rolls the whole transaction forward
    * ([[recoverPendingTxns]]) — then [[SnapshotStore.testTxnIntentHook]]
    * fires, each table's candidate is stamped committed and its pointer
    * moved forward in table-name order, and the intent is removed. */
  private def publishTxn(versions: Map[String, Long]): Unit = {
    val intent = writeTxnIntent(versions)
    SnapshotStore.testTxnIntentHook() // spec seam: crash after intent
    versions.toSeq.sortBy(_._1).foreach { case (t, v) =>
      stampCommitted(t, v)
      forwardPointer(t, v)
    }
    Files.deleteIfExists(intent)
  }

  /** Discard every still-present candidate of an aborted transaction.
    * With a `cause` (the refusal the caller rethrows), a failing discard
    * is suppressed into it instead of masking it. */
  private def discardCandidates(cands: Iterable[(String, Long)],
      cause: Option[Throwable] = None): Unit =
    cands.foreach { case (t, c) =>
      if (Files.exists(versionDir(t, c)))
        try discardCandidate(t, c)
        catch { case e: Throwable if cause.isDefined => cause.get.addSuppressed(e) }
    }

  /** Step 1 of [[appendAll]], exposed so specs can crash the protocol
    * between candidate write and intent: every table's delta written as an
    * unexposed candidate whose `_props.json` carries `props`; returns
    * table -> (candidate version, base). A candidate whose parquet footers
    * count zero rows is discarded and its table left out, so no caller
    * probes its deltas for rows.
    *
    * The tables write side by side, one thread each, joined before this
    * returns: a small delta's write leaves most cores idle, so writing
    * them one after another costs the sum of their latencies. Each thread
    * runs under the caller's Spark local properties (job group, SQL
    * execution id, trace spans), so cancelling the caller's job group
    * cancels its writes and their jobs are charged to the caller. When a
    * write is refused (a retype, a CHECK) or fails, or the caller is
    * interrupted, every candidate already written is discarded once all
    * threads are done, and the first error in table order (for an
    * interrupted caller, an InterruptedException) is rethrown: nothing
    * exposed, nothing orphaned. A write that dies inside its Spark job
    * leaves the marker-less directory any crashed append leaves, which
    * `vacuum(dropOrphans = true)` reclaims. */
  private[graft] def appendAllPrepare(rows: Map[String, DataFrame],
      props: Map[String, String] = Map.empty)
      : Map[String, (Long, Option[Long])] = {
    import java.util.concurrent.{ExecutionException, Executors}
    import scala.util.{Failure, Success, Try}
    val pool = Executors.newFixedThreadPool(rows.size, (r: Runnable) => {
      val th = new Thread(r, "graft-append-prepare")
      th.setDaemon(true)
      th
    })
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val writes = try rows.toSeq.sortBy(_._1).map { case (t, df) =>
      t -> org.apache.spark.sql.execution.SQLExecution
        .withThreadLocalCaptured(session, pool) {
          val base = latestVersion(t)
          val v = appendCandidate(t, df, base,
            mergedAppendSchema(t, base, df.schema), props)
          if (FileStats.footerRows(spark.sparkContext.hadoopConfiguration,
              versionDir(t, v)) > 0) Some((v, base))
          else { discardCandidate(t, v); None }
        }
    } finally pool.shutdown()
    // join every write, even after an interrupt: a candidate finishing
    // after the discard below would be an orphan
    var interrupted = false
    val results = writes.map { case (t, f) =>
      var r: Option[Try[Option[(Long, Option[Long])]]] = None
      while (r.isEmpty)
        try r = Some(Success(f.get()))
        catch {
          case _: InterruptedException => interrupted = true
          case e: ExecutionException => r = Some(Failure(e.getCause))
        }
      t -> r.get
    }
    val written = results.collect { case (t, Success(Some(c))) => t -> c }.toMap
    val errors = (if (interrupted) Seq(new InterruptedException(
      s"interrupted while appending to ${rows.keys.toSeq.sorted.mkString(", ")}"))
      else Nil) ++ results.collect { case (_, Failure(e)) => e }
    errors.headOption.foreach { e =>
      errors.tail.foreach(e.addSuppressed)
      discardCandidates(written.map { case (t, (v, _)) => t -> v }, Some(e))
      throw e
    }
    written
  }

  /** The txn intent record: {table: version}, written temp + atomic
    * rename. Exposed so specs can crash between intent and pointer moves. */
  private[graft] def writeTxnIntent(versions: Map[String, Long]): Path = {
    Files.createDirectories(txnDir)
    val name = s"txn-${java.util.UUID.randomUUID()}.json"
    val tmp = txnDir.resolve(name + ".tmp")
    Files.writeString(tmp, org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
        versions.toList.sortBy(_._1).map { case (t, v) =>
          t -> org.json4s.JLong(v) }))))
    val dst = txnDir.resolve(name)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    dst
  }

  /** Roll pending multi-table transactions FORWARD: an intent file only
    * exists once every candidate is fully written, so recovery stamps the
    * sentinels and advances any pointer the crash left behind, then
    * removes the intent. Idempotent; cheap no-op when `_txn/` is absent
    * (one directory stat — the cost every read resolution pays). */
  def recoverPendingTxns(): Unit = {
    if (!Files.exists(txnDir)) return
    // rootLock is JVM-only mutual exclusion: a live writer or recovery in
    // ANOTHER process can delete an intent under us — pendingIntents reads
    // it as empty. This path is hot (snapshotAll runs it per cut,
    // appendAllBatch per micro-batch), so that race is routine.
    SnapshotStore.rootLock(root) {
      pendingIntents().foreach { case (f, versions) =>
        // the marker test before the lock: an entry whose table holds no
        // such version must not create the table's lock file
        versions.sortBy(_._1).foreach { case (t, v) =>
          if (hasSuccessMarker(t, v)) underPointerLock(t)(rollForward(t, v))
        }
        Files.deleteIfExists(f)
      }
    }
  }

  /** Every listed table's publish exclusion, acquired in sorted order
    * (deadlock-free) — the multi-table mutual exclusion [[appendAll]]'s
    * commit step needs. POSIX backends: pointer FILE locks inside the
    * root monitor. CONDITIONAL backends (object stores — no file locks
    * cross-process): TTL'd publish LEASES in the head backend itself
    * ([[underTableLeases]]), which every concurrent put is arbitrated
    * against in the same one-item conditional write — so a single-table
    * casAdvance can no longer slip between a transaction's validation
    * and its pointer moves (the r18 ADVICE race). */
  private def underPointerLocks[T](tables: Seq[String])(body: => T): T =
    if (heads.conditional) underTableLeases(tables)(body)
    else SnapshotStore.rootLock(root) {
      def loop(remaining: List[String]): T = remaining match {
        case Nil => body
        case t :: rest =>
          val lockPath = tableDir(t).resolve("_pointer.lock")
          Files.createDirectories(tableDir(t))
          val ch = java.nio.channels.FileChannel.open(lockPath,
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE)
          try {
            val lock = ch.lock()
            try loop(rest) finally lock.release()
          } finally ch.close()
      }
      loop(tables.sorted.toList)
    }

  /** Upgrade a table written BEFORE the `_committed` sentinel protocol:
    * stamp the sentinel onto every `_SUCCESS` version at or below the
    * pointer. Sound for a quiesced legacy store — under the OLD protocol
    * a CAS loser's directory was always renamed (append relink) or
    * deleted (delete/update/compact discard), so any surviving
    * marker-complete directory at or below the pointer WAS genuinely
    * committed. Do NOT run concurrently with active NEW-protocol writers
    * on the same table: a current in-flight CAS loser below the pointer
    * is exactly what the sentinel exists to hide, and stamping it would
    * re-expose it. Idempotent; no-op for empty or already-current
    * tables. */
  def migrateLegacyTable(table: String): Unit =
    SnapshotStore.rootLock(root) {
      latestVersion(table).foreach { latest =>
        versionDirs(table)
          .filter(v => v <= latest && hasSuccessMarker(table, v) &&
            !Files.exists(committedMarker(table, v)))
          // Legacy versions never recorded an expose time: approximate
          // with the completed-write marker's mtime, preserving the
          // store's historical order for TIMESTAMP AS OF.
          .foreach(v => Files.writeString(committedMarker(table, v),
            Files.getLastModifiedTime(
              versionDir(table, v).resolve("_SUCCESS")).toMillis.toString))
      }
    }

  /** Drop committed versions older than the newest `keepLast`; the
    * pointer's version is always kept, and so is EVERY CHAIN ANCESTOR of a
    * kept version — a chain link's data lives in its ancestors' directories,
    * so reclaiming an ancestor a kept snapshot still references would
    * corrupt it, not merely lose history. Long-lived append chains
    * therefore pin their tail until a `compact` produces a self-contained
    * head for the keep set to resolve to (keep set is derived from
    * committed history, never from stray directories). With `dropOrphans`,
    * also remove directories whose write never completed (no `_SUCCESS`) —
    * crashed or overtaken commits at ANY position. Because commit
    * allocation + write deliberately run OUTSIDE the root lock (and
    * cross-JVM writers are invisible to it anyway), a marker-less directory
    * may be a LIVE commit mid-write, not a crash: an orphan candidate is
    * reclaimed only when nothing under it has been modified for
    * `orphanGraceMs` (default 10 min), so a directory a racing commit just
    * claimed — or is still streaming part files into — is skipped and
    * picked up by a later vacuum once it is demonstrably stale. */
  def vacuum(table: String, keepLast: Int = 1, dropOrphans: Boolean = false,
      orphanGraceMs: Long = SnapshotStore.DefaultOrphanGraceMs): Unit = {
    // Roll pending transactions forward first: a txn-listed candidate is
    // committed-in-waiting, not an orphan.
    recoverPendingTxns()
    SnapshotStore.rootLock(root) {
      vacuumKeeping(table,
        history(table).takeRight(math.max(keepLast, 1)).toSet,
        dropOrphans, orphanGraceMs)
    }
  }

  /** TIME-based retention (Delta `VACUUM … RETAIN`'s shape, enabled by
    * the expose-time commit stamps): drop committed versions whose stamp
    * is strictly OLDER than `tsMillis`, under exactly [[vacuum]]'s safety
    * rails — the pointer's version survives regardless, every chain
    * ancestor of a survivor survives (a kept chain link's data lives in
    * its ancestors' directories), and the newest version is kept even if
    * every stamp is older than the horizon. The natural pairing:
    * `TIMESTAMP AS OF` can reach exactly as far back as the horizon this
    * was last run with. */
  def vacuumOlderThan(table: String, tsMillis: Long,
      dropOrphans: Boolean = false,
      orphanGraceMs: Long = SnapshotStore.DefaultOrphanGraceMs): Unit = {
    recoverPendingTxns()
    SnapshotStore.rootLock(root) {
      val committed = history(table)
      val recent = committed.filter(v =>
        commitTimeOf(table, v).exists(_ >= tsMillis))
      vacuumKeeping(table,
        if (recent.nonEmpty) recent.toSet else committed.lastOption.toSet,
        dropOrphans, orphanGraceMs)
    }
  }

  /** The shared reclamation step of [[vacuum]]/[[vacuumOlderThan]]:
    * delete committed versions outside `keepRoots`' chain closure, plus
    * (optionally) stale marker-less orphans. Callers hold the root lock. */
  private def vacuumKeeping(table: String, keepRootsIn: Set[Long],
      dropOrphans: Boolean, orphanGraceMs: Long): Unit = {
    val committed = history(table)
    val keepRoots = keepRootsIn ++ latestVersion(table)
    val keep = keepRoots.flatMap(chainOf(table, _))
    // The pointer's version is NEVER an orphan candidate, marker or not —
    // if the marker convention is ever violated, vacuum must degrade to
    // "deletes nothing live", not to destroying the referenced version.
    val cutoff = System.currentTimeMillis() - math.max(orphanGraceMs, 0L)
    val orphans =
      if (!dropOrphans) Seq.empty
      else versionDirs(table)
        .filterNot(committed.toSet)
        .filterNot(latestVersion(table).toSet)
        .filter(v => newestMtime(versionDir(table, v)) < cutoff)
    val reclaimedCommitted = committed.filterNot(keep)
    // RETENTION HORIZON: the highest COMMITTED version this table has
    // ever reclaimed — what lets the feeds refuse a lagging consumer
    // LOUDLY instead of silently skipping deltas whose versions no
    // longer exist (reclaimed versions simply vanish from `history`,
    // so without the marker a `changesSince(old)` would quietly emit a
    // gapped stream). Monotonic max; orphans carry no exposed deltas
    // and don't move it. Persisted BEFORE any committed directory is
    // deleted: feed readers don't take the root lock, so a reader racing
    // the window between reclamation and the marker would otherwise pass
    // requireFeedReach against the stale horizon and emit a gapped
    // stream — and a crash between delete and write would leave the
    // guard absent forever. Raising the marker first errs toward
    // over-refusal (a crash before any delete refuses feeds it didn't
    // need to), never toward silent gaps.
    if (reclaimedCommitted.nonEmpty) {
      val f = tableDir(table).resolve("_vacuum_horizon")
      val prev =
        if (Files.exists(f)) Files.readString(f).trim.toLong else 0L
      val h = math.max(prev, reclaimedCommitted.max)
      if (h > prev) Files.writeString(f, h.toString)
    }
    (reclaimedCommitted ++ orphans).foreach(discardCandidate(table, _))
  }

  /** The highest committed version `vacuum` has ever reclaimed from
    * `table` (0 when nothing was ever reclaimed): every change set at or
    * below it is potentially GONE, so a feed consumer positioned before
    * it cannot catch up incrementally and must resubscribe from the
    * snapshot. The feeds enforce this via [[requireFeedReach]]. */
  def vacuumHorizon(table: String): Long = {
    val f = tableDir(table).resolve("_vacuum_horizon")
    if (Files.exists(f)) Files.readString(f).trim.toLong else 0L
  }

  /** Refuse LOUDLY when a feed consumer positioned at `since` would read
    * across vacuumed history: versions in (since, horizon] may have
    * carried change sets that no longer exist, and a silently gapped
    * delta stream is corruption for every incremental consumer. */
  private[graft] def requireFeedReach(table: String, since: Long): Unit = {
    val h = vacuumHorizon(table)
    require(since >= h,
      s"change feed over $table from version $since: history at or " +
        s"below version $h was vacuumed and its change sets may be gone " +
        "— an incremental catch-up would silently skip them; recompute " +
        s"from the snapshot (or resubscribe with startingVersion >= $h)")
  }

  /** Newest modification time (ms) of a directory or anything under it —
    * a live commit writing part files keeps this fresh. Missing paths (a
    * racing delete) report "just modified" so they are never reclaimed on
    * the same pass. */
  private def newestMtime(dir: Path): Long =
    try {
      val w = Files.walk(dir)
      try w.iterator().asScala
        .map(p => try Files.getLastModifiedTime(p).toMillis
          catch { case _: java.io.IOException => Long.MaxValue })
        .foldLeft(0L)(math.max)
      finally w.close()
    } catch {
      // The lazy walk iterator surfaces a racing delete (cross-JVM writers
      // are invisible to the root lock) as UncheckedIOException — treat it
      // like the checked case: "just modified", skip this pass.
      case _: java.io.IOException           => Long.MaxValue
      case _: java.io.UncheckedIOException  => Long.MaxValue
    }
}

object SnapshotStore {
  /** Orphan directories younger than this are presumed in-flight commits
    * and survive `vacuum(dropOrphans = true)`. */
  val DefaultOrphanGraceMs: Long = 10 * 60 * 1000L

  /** Default sparse-delete threshold: a matched file whose hit fraction is
    * at or under this goes row-granular (deletion vector) instead of
    * copy-on-write. 5% keeps the vector small relative to the file while
    * capturing the pathological case (a handful of rows in a fat file). */
  val DefaultDvMaxFraction: Double = 0.05

  /** Hard cap on one mutation's total deletion-vector entries: the vector
    * transits the driver and rides every subsequent reader's broadcast, so
    * past this the predicate is demonstrably dense and copy-on-write is
    * the honest cost. ~4M entries ≈ 64 MB of boxed pairs at collect time. */
  val DvMaxRowsPerMutation: Long = 1L << 22

  /** Backstop on the CHAIN-ACCUMULATED deletion-vector rows: the per-
    * mutation cap bounds one commit, but sparse mutations stack and the
    * union rides EVERY reader's broadcast until something folds it. Past
    * this, the next mutation triggers [[SnapshotStore.compactVectored]]
    * — an O(vectored files) rewrite — before proceeding, so reads never
    * pay more than (chain cap + one mutation cap) of vector broadcast. */
  val DvMaxChainRows: Long = 1L << 22

  /** Merge fan-in cap for the sorted-bucket ordering claim: each run of
    * a k-way merge holds an open parquet reader (row-group buffers, ~MBs
    * per column chunk), so a chain appended hundreds of times would
    * trade the per-query sort it saves for executor memory. 32 bounds
    * the per-partition reader footprint at tens of MBs. The scan drops
    * the claim past it; since r19 `appendBucketed` folds the chain
    * BEFORE crossing it (the auto-compact backstop), so the lapse only
    * ever happens through non-bucketed write paths. */
  val MaxSortedRunsPerBucket: Int = 32

  /** Commit-props keys of the BUCKET layout (`commitBucketed`): the hash
    * column(s) and bucket count under which every file of the version was
    * written. A chain is storage-partitioned-join eligible iff every link
    * carries the same pair (`bucketSpecOf`). COMPOSITE keys encode as a
    * comma-joined column list (column names with commas are refused at
    * write); [[bucketColsOf]] is the one splitter. */
  val BucketColProp: String = "graft.bucket.col"
  val BucketNProp: String = "graft.bucket.n"

  /** The column list a [[BucketColProp]] value encodes. */
  def bucketColsOf(spec: String): Seq[String] =
    spec.split(",").toSeq.filter(_.nonEmpty)

  /** COMPOSITE layouts only: the per-column bucket counts, comma-joined
    * ("8,8"); [[BucketNProp]] stays the TOTAL (their product) so every
    * count consumer is composite-agnostic. Absent on single-key chains. */
  val BucketDimsProp: String = "graft.bucket.dims"

  /** The claim props a bucket layout stamps on its commit. */
  def bucketLayoutProps(cols: Seq[String], dims: Seq[Int]): Map[String, String] = {
    val base = Map(BucketColProp -> cols.mkString(","),
      BucketNProp -> dims.product.toString)
    if (dims.length > 1) base + (BucketDimsProp -> dims.mkString(","))
    else base
  }

  /** Per-link claim that the link's files are SORTED by the bucket column
    * within each bucket ([[SnapshotStore.commitBucketed]]/
    * [[SnapshotStore.appendBucketed]] write `sortWithinPartitions`) — the
    * half of the scan's ordering report the writer supplies. Mutation
    * rewrites re-stamp only the bucket claim (repartition, unsorted), so
    * their links lack this and the ordering claim drops while the
    * zero-exchange claim survives. */
  val BucketSortedProp: String = "graft.bucket.sorted"

  /** Commit-props key tagging the OPERATION that produced a version
    * ("compact", "delete") — read via `commitProps` (per-version), NOT
    * `resolvedProps` (a chain link's tag is about that link alone, not
    * inheritable state). Feed consumers use it to tell content-neutral
    * compactions from rewrites. */
  val OpProp: String = "graft.op"

  /** Op tags whose versions change LAYOUT or SCHEMA but not content —
    * invisible to incremental consumers by design, so
    * [[SnapshotStore.nonFeedMutationsSince]] must not flag them. */
  val ContentNeutralOps: Set[String] =
    Set("compact", "compact-dv", "add-columns", "drop-columns",
      "rename-columns-metadata", "adopt-field-ids", "set-properties",
      "unset-properties", "add-constraint", "drop-constraint",
      "add-key-constraint", "drop-key-constraint")

  /** Commit-props key prefix of ANSI CHECK constraints
    * (`graft.check.<name>` -> predicate SQL; empty value = drop marker).
    * Reserved like all `graft.*` keys — written only by
    * [[SnapshotStore.addCheckConstraint]]/[[SnapshotStore.dropCheckConstraint]],
    * enforced by `commitWith` on every data-carrying write, carried
    * across self-contained rewrites as standing table metadata. */
  val CheckPropPrefix: String = "graft.check."

  /** StructField metadata key Spark's parquet writer/reader use for FIELD
    * IDS (`spark.sql.parquet.fieldId.{write,read}.enabled`). The store
    * pins an ID per column AT BIRTH in the snapshot schema and stamps it
    * into every written file, which is what makes RENAME COLUMN a
    * data-less metadata commit ([[SnapshotStore.renameColumns]]): the
    * pinned schema's names change, the IDs don't, and the reader matches
    * file columns by ID — the Iceberg/Delta column-mapping idea on
    * Spark's own native mechanism. Tables whose chains predate ID
    * stamping keep name resolution (and the rename-as-rewrite path)
    * until any self-contained rewrite upgrades them. */
  val FieldIdKey: String = "parquet.field.id"

  /** Every top-level field carries a pinned field ID — the chain was
    * born under ID stamping, every data file is ID-stamped, and ID-based
    * renames are sound. (Nested subfields are deliberately unstamped:
    * Spark matches them by name within their ID-matched parent, and the
    * store only renames top-level columns.) */
  def schemaHasFieldIds(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.nonEmpty && s.fields.forall(_.metadata.contains(FieldIdKey))

  private[core] def fieldIdOf(f: org.apache.spark.sql.types.StructField)
      : Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  /** Commit-props key prefix of INFORMATIONAL key constraints
    * (`graft.keycons.<name>` -> JSON {kind, columns, refTable?,
    * refColumns?, rely}; empty value = drop tombstone). NOT ENFORCED
    * metadata only — written by [[SnapshotStore.addKeyConstraint]] /
    * [[SnapshotStore.dropKeyConstraint]], never validated, carried
    * across self-contained rewrites as standing table metadata. */
  val KeyConsPropPrefix: String = "graft.keycons."

  /** The admissible [[SnapshotStore.addKeyConstraint]] kinds. */
  val KeyConstraintKinds: Set[String] = Set("primary", "unique", "foreign")

  /** An informational key constraint (see [[SnapshotStore.KeyConsPropPrefix]]). */
  final case class KeyConstraint(kind: String, columns: Seq[String],
      refTable: Option[String], refColumns: Seq[String], rely: Boolean)

  /** Commit-props key of a drop-columns link's OWN dropped names (a JSON
    * array, lowercased): the resurrection guard's per-link record. Chain-
    * walked by [[SnapshotStore.droppedColumnsOf]] via `commitProps` —
    * compact strips the `resolvedProps`-inherited copy so a rewritten
    * chain (whose files no longer hold the columns) forgets its drops. */
  val DroppedColsProp: String = "graft.droppedColumns"

  /** Memoized schemas of legacy (pre-schema-file) versions, keyed by
    * (root, table, version) — committed versions are immutable, so the
    * entry can never go stale. Shared across store instances because the
    * SQL catalog constructs a fresh store per resolution. */
  private[core] val schemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long),
      org.apache.spark.sql.types.StructType]

  /** Memoized data-skipping manifests, same immutability argument. A None
    * is cached too: stats are written before the pointer advances, so a
    * version visible without `_stats.json` will never grow one. */
  private[core] val statsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long),
      Option[Map[String, FileStats.FileStat]]]

  /** Memoized chain NDV estimates ([[SnapshotStore.chainNdv]]), same
    * immutability argument as the stats manifests. */
  private[core] val ndvCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long),
      Map[String, Long]]

  /** Memoized chain histograms ([[SnapshotStore.chainHistograms]]) —
    * estimateStatistics runs per store-backed plan, and the sidecar
    * read + per-link schema resolution must not run per query. */
  private[core] val histCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long),
      Map[String, Array[Double]]]

  /** Memoized chain count-min sketches ([[SnapshotStore.chainCms]]) —
    * the join-sizing rule may consult them once per planned join. */
  private[core] val cmsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long),
      Map[String, org.apache.spark.util.sketch.CountMinSketch]]

  /** Test seam: runs between a row-mutation's candidate write and its
    * pointer CAS, so a spec can force the exact candidate-written /
    * sibling-committed interleaving deterministically (the rebase and
    * recompute paths are otherwise only reachable by lucky scheduling).
    * A no-op outside specs. */
  private[graft] var testRaceHook: () => Unit = () => ()

  /** Head-pointer backend factory — POSIX rename by default; swapped for
    * [[MockObjectHeadStore]] to run the conditional-put protocol (fuzz
    * suites; an object-store deployment installs its real client here). */
  @volatile var headStoreFactory: () => HeadStore = () => new PosixHeadStore

  /** TTL of a multi-table publish lease on conditional head backends
    * ([[SnapshotStore.underTableLeases]]). The leased window is pure
    * metadata work (validate, intent write, sentinel stamps, pointer
    * puts — milliseconds), so 30 s only ever expires on a crashed or
    * paused holder; the backend fences the loser and the `_txn/` intent
    * rolls its cascade forward. */
  @volatile var LeaseTtlMs: Long = 30000L

  /** Spec seam: fires right after a multi-table txn INTENT lands (the
    * roll-forward point) and before any pointer moves — a throw here
    * simulates the crash recoverPendingTxns must complete forward. */
  private[graft] var testTxnIntentHook: () => Unit = () => ()

  /** Test hook: drop memoized schemas/manifests. Specs tamper with
    * committed version directories to simulate legacy or corrupted stores,
    * which violates the immutability assumption the caches rest on. */
  private[graft] def dropCachesForTests(): Unit = {
    schemaCache.clear(); statsCache.clear(); ndvCache.clear(); histCache.clear(); cmsCache.clear()
  }

  /** One monitor per PHYSICAL root (symlinks resolved): serializes pointer
    * moves, appends, and vacuums across all store instances in this JVM —
    * sibling instances on the same root via different path spellings must
    * share a monitor, or two threads would reach the pointer FileLock
    * concurrently and the second would throw OverlappingFileLockException
    * (in-JVM overlapping FileLocks fail rather than block). The file lock
    * itself covers the cross-JVM half of the contract. */
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def rootLock[T](root: String)(body: => T): T = {
    val p = Paths.get(root)
    val key =
      (try if (Files.exists(p)) p.toRealPath() else p.toAbsolutePath.normalize
       catch { case _: java.io.IOException => p.toAbsolutePath.normalize }).toString
    val m = monitors.computeIfAbsent(key, _ => new Object)
    m.synchronized(body)
  }
}
