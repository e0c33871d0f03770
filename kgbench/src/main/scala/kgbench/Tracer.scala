package kgbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.kgbench.SparkBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around calls into the engine's layers, with Spark work
  * attributed to them from outside the program.
  *
  * A span sets the job local property [[SpanKey]] on the calling thread;
  * Spark copies local properties into every job the thread submits, so the
  * [[SparkListener]] can charge each job, its stages' shuffle writes and
  * its RDD block puts to the span. A [[QueryExecutionListener]] supplies
  * planning time per query (joined to spans through the SQL execution
  * that ran it and that execution's jobs), and a [[StreamingQueryListener]] the micro-batch phase
  * times. Jobs submitted by threads the benchmark does not own (a
  * streaming query's micro-batch thread) are charged to the span set as
  * [[ambient]].
  *
  * Everything is kept in memory and written out by [[dump]] at the end.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[SpanRec]
  private val jobs = TrieMap.empty[Int, JobRec]
  private val stageJob = TrieMap.empty[Int, Int]      // stage -> job
  private val rddJob = TrieMap.empty[Int, Int]        // rdd -> first job
  private val execSpan = TrieMap.empty[Long, String]  // SQL execution -> span
  private val queryExec = TrieMap.empty[Long, Long]   // query execution -> SQL execution
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]
  private val progress = new ConcurrentLinkedQueue[Map[String, Long]]
  private val counters = new ConcurrentLinkedQueue[(String, String, Double)]
  val ambient = new AtomicReference[String](null)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey)))
        .orElse(Option(ambient.get())).orNull
      jobs.put(e.jobId, new JobRec(span, e.time))
      e.stageInfos.foreach { s =>
        stageJob.put(s.stageId, e.jobId)
        s.rddInfos.foreach(r => rddJob.putIfAbsent(r.id, e.jobId))
      }
      for (p <- props; x <- Option(p.getProperty(ExecutionIdKey)); s <- Option(span))
        execSpan.putIfAbsent(x.toLong, s)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) for (j <- stageJob.get(e.stageInfo.stageId); rec <- jobs.get(j))
        rec.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        SparkBridge.queryExecution(end).foreach(qe => queryExec.put(qe.id, end.executionId))
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.storageLevel.isValid) info.blockId.asRDDId.foreach { b =>
        for (j <- rddJob.get(b.rddId); rec <- jobs.get(j))
          rec.storedBytes.addAndGet(info.memSize + info.diskSize)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      plans.add((qe.id, ms.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        progress.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    SparkBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `f` as span `name`; nested spans record their parent. */
  def span[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val parent = sc.getLocalProperty(SpanKey)
    val id = s"${nextId.incrementAndGet()}"
    sc.setLocalProperty(SpanKey, id)
    val t0 = Clock.nowMs()
    try f
    finally {
      spans.add(SpanRec(id, name, Option(parent).orNull, t0, Clock.nowMs()))
      sc.setLocalProperty(SpanKey, parent)
    }
  }

  /** The innermost open span on the calling thread, or null. */
  def currentSpan: String = spark.sparkContext.getLocalProperty(SpanKey)

  /** A count measured at a layer boundary, tied to the current span. */
  def count(name: String, value: Double): Unit =
    counters.add((Option(spark.sparkContext.getLocalProperty(SpanKey)).orNull, name, value))

  /** Write spans, jobs, plans, progress and counters as JSON lines. */
  def dump(out: Out): Unit = {
    SparkBridge.drain(spark.sparkContext)
    spans.asScala.foreach(s => out.rec("span", "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    jobs.foreach { case (id, j) => out.rec("job", "id" -> id, "span" -> j.span,
      "start_ms" -> j.start.toDouble, "end_ms" -> j.end.toDouble,
      "shuffle_bytes" -> j.shuffleBytes.get, "stored_bytes" -> j.storedBytes.get) }
    plans.asScala.foreach { case (q, ms) =>
      val span = queryExec.get(q).flatMap(execSpan.get)
      out.rec("plan", "span" -> span, "plan_ms" -> ms) }
    progress.asScala.foreach(p => out.rec("progress", "duration_ms" -> p))
    counters.asScala.foreach { case (s, n, v) =>
      out.rec("counter", "span" -> s, "name" -> n, "value" -> v) }
  }
}

object Tracer {
  val SpanKey = "kgbench.span"
  private val ExecutionIdKey = "spark.sql.execution.id"

  final case class SpanRec(id: String, name: String, parent: String,
      startMs: Double, endMs: Double)

  final class JobRec(val span: String, val start: Long) {
    @volatile var end: Long = -1L
    val shuffleBytes = new AtomicLong(0)
    val storedBytes = new AtomicLong(0)
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as the listener bus's event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
