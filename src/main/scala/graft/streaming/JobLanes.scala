package graft.streaming

import graft.core.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Priority-lane job scheduling over the snapshot store — the reference's
  * worker-lane model (api/app/services/lane_manager.py,
  * worker_registry.py, docs/explanation/worker-lanes.md ADR-100)
  * re-expressed store-first:
  *
  *  - The queue is an append-only EVENT LOG (`jobs_log` in the store):
  *    submitted / approved / claimed / released / completed / failed /
  *    cancelled events, one append per transition batch. Append-only is
  *    what the store's versioning and change feed are built for, so job
  *    state survives restarts and `graft_changes('jobs_log', v)` streams
  *    lifecycle events to monitors for free — the analog of the
  *    reference's "database-driven lanes: job state survives container
  *    restarts".
  *  - One DISPATCH LEADER per store root makes all claim decisions,
  *    serialized by a file lock held for the manager's lifetime — the
  *    analog of the reference's `pg_try_advisory_lock` leader election
  *    (api/app/main.py). The leader folds the log once at startup to
  *    rebuild state (crash recovery), then tracks it in memory; every
  *    transition is appended to the log BEFORE it takes effect in
  *    memory, so the log is always ahead of (or equal to) the leader's
  *    view and a replacement leader reconstructs exactly.
  *  - Lanes own disjoint job-type sets (validated, as worker_registry
  *    .validate_lane_uniqueness does), each with `maxSlots` and a stale
  *    timeout. A claim takes the highest `priority DESC, seq ASC`
  *    approved job of the lane's types iff `running < maxSlots` — the
  *    `ORDER BY priority DESC, created_at ASC ... FOR UPDATE SKIP
  *    LOCKED` claim query, with the slot check from `_lane_loop`.
  *    Lane separation is the point: a saturated maintenance lane can
  *    never block an interactive claim.
  *  - `reapStale` returns `running` jobs whose claim outlived the
  *    lane's stale timeout to `approved` (attempts + 1), the
  *    JobScheduler reaper (job_scheduler.py:258-296).
  *
  * The log is operational metadata (one short row per transition), so
  * folding it at startup is a metadata-scale scan; the 100 TB corpus
  * never flows through here — jobs DESCRIBE work, executors do it.
  */
object JobLanes {
  final case class LaneConfig(name: String, jobTypes: Seq[String],
      maxSlots: Int, staleTimeoutMs: Long)

  final case class Job(jobId: String, jobType: String, priority: Int,
      seq: Long, status: String, worker: String, claimedAtMs: Long,
      attempts: Int)

  /** Event-log row. `seq` is the total order (allocated by the leader,
    * resumed from the log's max on takeover). */
  private[streaming] final case class Ev(seq: Long, jobId: String,
      event: String, jobType: String, priority: Int, worker: String,
      atMs: Long)

  val Statuses = Seq("awaiting_approval", "approved", "running",
    "completed", "failed", "cancelled")
}

final class JobLanes(spark: SparkSession, store: SnapshotStore,
    lanes: Seq[JobLanes.LaneConfig], worker: String = "leader-0",
    logTable: String = "jobs_log") extends AutoCloseable {
  import JobLanes._
  import spark.implicits._

  // Each job type must live in exactly one lane — the stale reaper and
  // the claim loops both key on it (worker_registry.validate_lane_uniqueness).
  locally {
    val seen = scala.collection.mutable.Map[String, String]()
    for (l <- lanes; t <- l.jobTypes) {
      require(!seen.contains(t),
        s"job type '$t' registered in lanes '${seen(t)}' and '${l.name}' — must be unique")
      seen(t) = l.name
    }
  }
  private val laneOf: Map[String, LaneConfig] =
    lanes.flatMap(l => l.jobTypes.map(_ -> l)).toMap

  // ---- leader election: one dispatcher per store root, held for life.
  // A second JobLanes on the same root fails fast instead of split-brain.
  private val lockCh = {
    val dir = java.nio.file.Paths.get(store.root, logTable)
    java.nio.file.Files.createDirectories(dir)
    java.nio.channels.FileChannel.open(dir.resolve("_leader.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
  }
  private val leaderLock = {
    val l = try lockCh.tryLock() catch {
      case _: java.nio.channels.OverlappingFileLockException => null
    }
    if (l == null) {
      lockCh.close()
      throw new IllegalArgumentException(
        s"another dispatch leader holds $logTable on ${store.root}")
    }
    l
  }
  override def close(): Unit = { leaderLock.release(); lockCh.close() }

  // ---- crash recovery: fold the log into (state, next seq). The log is
  // the truth; memory is a cache of its fold.
  private val state = scala.collection.mutable.Map[String, Job]()
  private var seq: Long = 0L
  locally {
    if (store.latestVersion(logTable).isDefined) {
      val evs = store.read(logTable)
        .select("seq", "jobId", "event", "jobType", "priority", "worker", "atMs")
        .as[Ev].collect().sortBy(_.seq)
      evs.foreach(applyToMemory)
      seq = evs.lastOption.map(_.seq).getOrElse(0L)
    }
  }

  private def applyToMemory(e: Ev): Unit = e.event match {
    case "submitted" => state(e.jobId) =
      Job(e.jobId, e.jobType, e.priority, e.seq, "awaiting_approval", "", 0L, 0)
    case "approved"  => state.get(e.jobId).foreach(j =>
      state(e.jobId) = j.copy(status = "approved"))
    case "claimed"   => state.get(e.jobId).foreach(j =>
      state(e.jobId) = j.copy(status = "running", worker = e.worker,
        claimedAtMs = e.atMs, attempts = j.attempts + 1))
    case "released"  => state.get(e.jobId).foreach(j =>
      state(e.jobId) = j.copy(status = "approved", worker = ""))
    case term        => state.get(e.jobId).foreach(j =>
      state(e.jobId) = j.copy(status = term)) // completed | failed | cancelled
  }

  /** Durable-then-memory: the event hits the log before the leader's
    * view, so a replacement leader's fold can never be BEHIND what this
    * one acted on. One store append per batch of events. */
  private def record(events: Seq[Ev]): Unit = if (events.nonEmpty) {
    store.append(logTable, events.toDF())
    events.foreach(applyToMemory)
  }
  private def nextSeq(): Long = { seq += 1; seq }

  // ---- lifecycle (job_queue.py state machine: awaiting_approval →
  // approved → running → completed/failed; cancel/expire → cancelled)
  def submit(jobId: String, jobType: String, priority: Int = 5,
      atMs: Long = 0L): Unit = {
    require(laneOf.contains(jobType), s"no lane owns job type '$jobType'")
    require(!state.contains(jobId), s"duplicate job id '$jobId'")
    record(Seq(Ev(nextSeq(), jobId, "submitted", jobType, priority, "", atMs)))
  }
  def approve(jobId: String, atMs: Long = 0L): Unit =
    transition(jobId, "approved", from = Set("awaiting_approval"), atMs)
  def complete(jobId: String, atMs: Long = 0L): Unit =
    transition(jobId, "completed", from = Set("running"), atMs)
  def fail(jobId: String, atMs: Long = 0L): Unit =
    transition(jobId, "failed", from = Set("running"), atMs)
  def cancel(jobId: String, atMs: Long = 0L): Unit =
    transition(jobId, "cancelled",
      from = Set("awaiting_approval", "approved", "running"), atMs)

  private def transition(jobId: String, to: String, from: Set[String],
      atMs: Long): Unit = {
    val j = state.getOrElse(jobId, sys.error(s"unknown job '$jobId'"))
    require(from(j.status), s"job '$jobId' is ${j.status}, cannot -> $to")
    record(Seq(Ev(nextSeq(), jobId, to, j.jobType, j.priority, j.worker, atMs)))
  }

  def job(jobId: String): Option[Job] = state.get(jobId)
  private def inLane(l: LaneConfig) =
    state.values.filter(j => laneOf(j.jobType).name == l.name)

  /** One poll cycle for `lane` (the `_lane_loop` body): claim approved
    * jobs of the lane's types — priority DESC, submission seq ASC —
    * until the lane's slots are full. Returns the claimed jobs; an empty
    * result is "no slot or no work" (caller sleeps its poll interval). */
  def claimNext(lane: String, nowMs: Long = 0L): Seq[Job] = {
    val l = lanes.find(_.name == lane)
      .getOrElse(sys.error(s"unknown lane '$lane'"))
    val free = l.maxSlots - inLane(l).count(_.status == "running")
    if (free <= 0) Seq.empty
    else {
      val take = inLane(l).filter(_.status == "approved").toSeq
        .sortBy(j => (-j.priority, j.seq)).take(free)
      record(take.map(j =>
        Ev(nextSeq(), j.jobId, "claimed", j.jobType, j.priority, worker, nowMs)))
      take.map(j => state(j.jobId))
    }
  }

  /** Requeue running jobs whose claim outlived their lane's stale
    * timeout (job_scheduler.py:258-296 reaper; the rerun bumps
    * `attempts` via the next claim). */
  def reapStale(nowMs: Long): Seq[Job] = {
    val stale = state.values.filter(j => j.status == "running" &&
      nowMs - j.claimedAtMs > laneOf(j.jobType).staleTimeoutMs).toSeq
    record(stale.map(j =>
      Ev(nextSeq(), j.jobId, "released", j.jobType, j.priority, "", nowMs)))
    stale.map(j => state(j.jobId))
  }

  /** Lane status for monitors (lane_manager.get_lane_status). */
  def laneStatus: Map[String, Map[String, Int]] =
    lanes.map { l =>
      l.name -> inLane(l).toSeq.groupBy(_.status).view.mapValues(_.size).toMap
    }.toMap
}
