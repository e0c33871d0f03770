package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per JVM, UTC, small shuffle
  * partitions (local test scale). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"

  /** Run `body` with the given SQL confs set, restoring prior values (or
    * unsetting) afterwards — the shared-session analogue of Spark's own
    * test helper. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** `f`'s result and the Spark jobs started while it ran, counted by a
    * SparkListener. Events post asynchronously, so the listener bus is
    * drained before the listener is added (an earlier job's late event is
    * not counted) and again before the count is read (none of `f`'s is
    * missed). */
  def sparkJobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graftspec.SparkTestBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.graftspec.SparkTestBridge.drain(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Data files the executed plan will actually scan — pins FileIndex-level
    * pruning (zone maps) where result equality alone can't see it. */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collectWithSubqueries {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.map(_.urlEncodedPath).toSeq
        }.flatten
    }.flatten
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // extension-built like the mains: AQE stage rules (band pruning)
      // can only be injected at session build, never post-hoc
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // INT96 is deprecated and carries no parquet stats; micros keeps
      // snapshot-store writes zone-map-prunable (FileStats) and smaller.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
