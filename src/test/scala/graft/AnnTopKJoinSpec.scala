package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorOps
import graft.similarity.Ann

/** `Ann.topKJoin` against the all-pairs window it replaced: row for row on
  * a seeded corpus with ties, degenerate vectors and ids whose numeric and
  * string orders differ, and its scoring spread over the session's cores. */
class AnnTopKJoinSpec extends SparkSpec {

  /** The all-pairs form: broadcast the queries, score every pair, rank
    * every pair with the window, keep `rn <= k`. */
  private def allPairs(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("corpus_id").asc)
    corpus
      .select(col(corpusId).as("corpus_id"), col(corpusVec).as("cv"))
      .join(broadcast(
        queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))))
      .withColumn("sim", VectorOps.cosine(col("cv"), col("qv")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("corpus_id"), col("sim"))
  }

  private val vecType = ArrayType(DoubleType, containsNull = true)

  private def frame(idType: DataType, rows: Seq[(Any, Seq[java.lang.Double])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v) }: _*),
      StructType(Seq(StructField("id", idType), StructField("v", vecType))))

  /** 60 seeded vectors whose elements are 0 or 1, so each direction
    * recurs about four times and many rows tie at every rank, plus a
    * duplicate of row 9, a zero vector, a NaN element, a NULL element and a
    * NULL embedding. Ids run 1..65, so 9 and 10 both occur. */
  private val corpus: Seq[(Long, Seq[java.lang.Double])] = {
    val rnd = new scala.util.Random(11L)
    val seeded = (1 to 60).map { i =>
      i.toLong -> Seq.fill(4)(java.lang.Double.valueOf(rnd.nextInt(2).toDouble))
    }
    seeded ++ Seq(
      61L -> seeded(8)._2,
      62L -> Seq[java.lang.Double](0.0, 0.0, 0.0, 0.0),
      63L -> Seq[java.lang.Double](1.0, Double.NaN, 0.0, 1.0),
      64L -> Seq[java.lang.Double](1.0, null, 0.0, 1.0),
      65L -> null)
  }

  /** Every corpus row as a query, plus a query of the wrong length and
    * one with a NULL element: both score NULL against every row, as the
    * zero, NaN, NULL-element and NULL queries do, so each has fewer than k
    * non-NULL scores. */
  private val queries: Seq[(Long, Seq[java.lang.Double])] = corpus ++ Seq(
    66L -> Seq[java.lang.Double](1.0, 1.0, 1.0),
    67L -> Seq[java.lang.Double](null, 1.0, 1.0, 1.0),
    68L -> Seq[java.lang.Double](0.5, -1.0, 0.25, 1.0))

  private def sameRows(c: DataFrame, q: DataFrame, k: Int): Unit = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val expected = rows(allPairs(c, "id", "v", q, "id", "v", k))
    val got = rows(Ann.topKJoin(c, "id", "v", q, "id", "v", k))
    assert(expected.nonEmpty)
    assert(got == expected, s"k=$k")
  }

  test("topKJoin returns the all-pairs window's rows for Long ids, at every k") {
    val (c, q) = (frame(LongType, corpus), frame(LongType, queries))
    for (k <- Seq(1, 2, 3, 5, 8, corpus.size, corpus.size + 7)) sameRows(c, q, k)
  }

  test("topKJoin returns the all-pairs window's rows for String ids") {
    def named(rows: Seq[(Long, Seq[java.lang.Double])]) =
      frame(StringType, rows.map { case (id, v) => s"c$id" -> v })
    val (c, q) = (named(corpus), named(queries))
    // "c10" sorts before "c9": the window, not the numeric id, breaks ties
    for (k <- Seq(1, 3, corpus.size + 1)) sameRows(c, q, k)
  }

  test("topKJoin keeps the rows tied at a partition's k-th place, also once outranked") {
    // 40 rows on one direction tie for every query; 8 rows on another
    // outrank them for (1, 1), evicting tied rows a partition had kept
    val c = frame(LongType, (1 to 48).map { i =>
      i.toLong -> Seq[java.lang.Double](1.0, if (i % 6 == 0) 1.0 else 0.0)
    })
    val q = frame(LongType, Seq(1L -> Seq[java.lang.Double](1.0, 1.0),
      2L -> Seq[java.lang.Double](1.0, 0.0), 3L -> Seq[java.lang.Double](2.0, 1.0)))
    for (k <- 1 to 16) sameRows(c, q, k)
  }

  test("topKJoin is exact when the session has more partitions than corpus rows") {
    val small = corpus.filter { case (id, _) => Set(9L, 61L, 65L)(id) }
    assert(spark.sparkContext.defaultParallelism > small.size)
    val (c, q) = (frame(LongType, small), frame(LongType, queries))
    for (k <- Seq(1, 2, 3, 5)) sameRows(c, q, k)
  }

  test("topKJoin scores a one-file corpus in defaultParallelism tasks") {
    val dir = java.nio.file.Files.createTempDirectory("topk-onefile").toString
    try {
      val rnd = new scala.util.Random(7L)
      frame(LongType, (1 to 200).map { i =>
        i.toLong -> Seq.fill(8)(java.lang.Double.valueOf(rnd.nextGaussian()))
      }).coalesce(1).write.mode("overwrite").parquet(dir)
      val onefile = spark.read.parquet(dir)
      assert(onefile.inputFiles.length == 1)
      val (rows, stages) = stagesDuring(
        Ann.topKJoin(onefile, "id", "v", onefile, "id", "v", k = 4).collect())
      assert(rows.length == 200 * 4)
      // the scored candidates are the window's shuffle input, so the last
      // stage that writes shuffle records is the scoring stage
      val scoring = stages.filter(_.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
        .maxBy(_.stageId)
      assert(scoring.numTasks == spark.sparkContext.defaultParallelism,
        s"scoring ran ${scoring.numTasks} task(s)")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** `f`'s result and the stages completed while it ran, drained as in
    * [[sparkJobsDuring]]. */
  private def stagesDuring[T](f: => T): (T, Seq[org.apache.spark.scheduler.StageInfo]) = {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.scheduler.StageInfo]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.add(s.stageInfo); ()
      }
    }
    org.apache.spark.graftspec.SparkTestBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.graftspec.SparkTestBridge.drain(sc)
      (r, stages.toArray(Array.empty[org.apache.spark.scheduler.StageInfo]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
