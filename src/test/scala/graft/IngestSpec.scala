package graft

import org.apache.spark.sql.functions._
import graft.ingest.{IngestPipeline, MockExtractor}

/** Ingest lifecycle: deterministic extraction, two-tier match-or-create,
  * instance dedup, epoch recording, idempotent re-ingest. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  def emptyConcepts = Seq.empty[(String, String, Seq[Float])]
    .toDF("concept_id", "label", "embedding")
  def emptyInstances = Seq.empty[(String, String)].toDF("concept_id", "quote")
  def emptyEdges = Seq.empty[(String, String, String, Double)]
    .toDF("src", "dst", "rel_type", "confidence")
  def emptyLog = Seq.empty[(Long, String, String)].toDF("event_id", "kind", "actor")

  val docs = Seq(
    ("d1", "alpha observations support theory building across experiments today"),
    ("d2", "theory building requires alpha observations and careful experiments"))
    .toDF("doc_id", "text")

  test("mock extraction is deterministic and self-consistent") {
    val e1 = MockExtractor.extract("d1", "alpha observations support theory")
    val e2 = MockExtractor.extract("d1", "alpha observations support theory")
    // Array fields use reference equality — compare structurally
    assert(e1.concepts.map(c => (c.conceptId, c.label, c.embedding.toSeq)) ==
      e2.concepts.map(c => (c.conceptId, c.label, c.embedding.toSeq)))
    assert(e1.instances == e2.instances && e1.relationships == e2.relationships)
    assert(e1.concepts.map(_.label) == Seq("alpha", "observations", "support", "theory"))
    assert(e1.relationships.forall(r => r.confidence >= 0.0 && r.confidence <= 1.0))
    val n = MockExtractor.pseudoEmbedding("alpha")
    assert(math.abs(n.map(x => x.toDouble * x).sum - 1.0) < 1e-5)
  }

  test("first ingest creates; re-ingest of the same docs matches (V3 + M3)") {
    val r1 = IngestPipeline.ingestBatch(spark, docs, emptyConcepts, emptyInstances,
      emptyEdges, emptyLog, batchEpoch = 1L)
    assert(r1.createdCount > 0 && r1.matchedCount == 0)
    val conceptCount = r1.concepts.count()
    val instanceCount = r1.instances.count()

    // identical embeddings → every candidate matches at sim 1.0 ≥ 0.85
    val r2 = IngestPipeline.ingestBatch(spark, docs, r1.concepts, r1.instances,
      r1.edges, r1.epochLog, batchEpoch = 2L)
    assert(r2.createdCount == 0)
    assert(r2.matchedCount > 0)
    assert(r2.concepts.count() == conceptCount) // MERGE: no new concepts
    assert(r2.instances.count() == instanceCount) // (quote, concept) dedup
    assert(r2.epochLog.count() == 2) // one epoch record per batch
  }

  test("same label across docs resolves to one concept (cross-doc match)") {
    val r1 = IngestPipeline.ingestBatch(spark,
      Seq(("d1", "shared concept appears here today")).toDF("doc_id", "text"),
      emptyConcepts, emptyInstances, emptyEdges, emptyLog, 1L)
    val r2 = IngestPipeline.ingestBatch(spark,
      Seq(("d2", "shared concept appears again tomorrow")).toDF("doc_id", "text"),
      r1.concepts, r1.instances, r1.edges, r1.epochLog, 2L)
    // labels common to both docs (shared/concept/appears + today|again|tomorrow)
    // must match d1's concepts, not duplicate: identical labels → sim 1.0
    assert(r2.matchedCount >= 3)
    val labels = r2.concepts.select("label").as[String].collect()
    assert(labels.distinct.length == labels.length) // no duplicate labels
  }

  test("streaming ingest processes file micro-batches via foreachBatch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-stream").toString
    docs.write.mode("overwrite").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id STRING, text STRING")
    val stream = spark.readStream.schema(schema).parquet(dir)
    val si = new IngestPipeline.StreamingIngest(spark,
      IngestPipeline.IngestResult(emptyConcepts, emptyInstances, emptyEdges,
        emptyLog, 0L, 0L))
    val q = si.start(stream)
    q.processAllAvailable()
    q.stop()
    val s = si.currentState()
    assert(s.concepts.count() > 0)
    assert(s.epochLog.count() == 1)
  }

  test("edges land under resolved ids with confidence in [0,1] (M2)") {
    val r = IngestPipeline.ingestBatch(spark, docs, emptyConcepts, emptyInstances,
      emptyEdges, emptyLog, 1L)
    val ids = r.concepts.select("concept_id").as[String].collect().toSet
    val edges = r.edges.select("src", "dst", "confidence")
      .as[(String, String, Double)].collect()
    assert(edges.nonEmpty)
    edges.foreach { case (s, d, c) =>
      assert(ids.contains(s) && ids.contains(d))
      assert(c >= 0.0 && c <= 1.0)
    }
  }

  test("store-backed ingest: consistent cut in, one atomic commit out") {
    import graft.core.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-ing-store").toString
    val st = new SnapshotStore(spark, root)
    val r1 = IngestPipeline.ingestBatchToStore(spark, st, docs, batchEpoch = 1L)
    assert(r1.keySet == Set("concepts", "instances", "edges", "epoch_log"))
    // equals the functional twin on the same input
    val f1 = IngestPipeline.ingestBatch(spark, docs, emptyConcepts
        .withColumn("created_at_epoch", lit(1L)).where(lit(false)),
      emptyInstances, emptyEdges, emptyLog, batchEpoch = 1L)
    assert(st.read("concepts").select("concept_id").as[String].collect().toSet
      == f1.concepts.select("concept_id").as[String].collect().toSet)
    assert(st.read("edges").count() == f1.edges.count())
    // second batch with overlapping content MATCHES against the committed
    // cut instead of re-creating (the store IS the matcher's state now)
    val docs2 = Seq(
      ("d3", "alpha observations support new theory building today again")
    ).toDF("doc_id", "text")
    IngestPipeline.ingestBatchToStore(spark, st, docs2, batchEpoch = 2L)
    val log = st.read("epoch_log")
      .select("event_id", "matched_concepts", "created_concepts")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(log.length == 2)
    assert(log(1)._2 > 0, "batch 2 must match existing concepts")
    // every edge endpoint exists in concepts: the dangling probe across
    // BOTH batches (each batch was one commit point)
    val cids = st.read("concepts").select("concept_id").as[String].collect().toSet
    val eps = st.read("edges").select("src", "dst").as[(String, String)].collect()
    eps.foreach { case (s0, d0) =>
      assert(cids.contains(s0) && cids.contains(d0)) }
    // re-ingest of already-seen docs is MERGE-idempotent: no new concepts
    val before = st.read("concepts").count()
    IngestPipeline.ingestBatchToStore(spark, st, docs, batchEpoch = 3L)
    assert(st.read("concepts").count() == before)

    // crash AFTER the txn intent: recovery exposes the WHOLE batch —
    // never edges without their concepts
    val root2 = java.nio.file.Files.createTempDirectory("graft-ing-crash").toString
    val st2 = new SnapshotStore(spark, root2)
    SnapshotStore.testTxnIntentHook =
      () => throw new RuntimeException("simulated crash after intent")
    intercept[RuntimeException](
      IngestPipeline.ingestBatchToStore(spark, st2, docs, batchEpoch = 1L))
    SnapshotStore.testTxnIntentHook = () => ()
    st2.recoverPendingTxns()
    val cids2 = st2.read("concepts").select("concept_id").as[String].collect().toSet
    assert(cids2.nonEmpty)
    st2.read("edges").select("src", "dst").as[(String, String)].collect()
      .foreach { case (s0, d0) =>
        assert(cids2.contains(s0) && cids2.contains(d0)) }
  }

  test("streaming store ingest is exactly-once across checkpointed restarts") {
    import graft.core.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-ing-str").toString
    val st = new SnapshotStore(spark, root)
    val src = java.nio.file.Files.createTempDirectory("graft-ing-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ing-ck").toString
    def run(): Unit = {
      val q = IngestPipeline.startStoreIngest(spark, st,
        spark.readStream.schema("doc_id STRING, text STRING")
          .parquet(s"$src/*"), ckpt)
      q.processAllAvailable(); q.stop()
    }
    docs.write.parquet(s"$src/p1")
    run()
    val afterP1 = st.read("concepts").count()
    assert(afterP1 > 0)
    Seq(("d9", "entirely novel tokens manifest distinct semantic payloads here"))
      .toDF("doc_id", "text").write.parquet(s"$src/p2")
    run() // restart from the checkpoint: p1's batch must NOT re-ingest
    assert(st.read("epoch_log").count() == 2L,
      "exactly one epoch record per micro-batch, replays skipped")
    val cids = st.read("concepts").select("concept_id").as[String].collect().toSet
    st.read("edges").select("src", "dst").as[(String, String)].collect()
      .foreach { case (s0, d0) =>
        assert(cids.contains(s0) && cids.contains(d0)) }
  }

  test("store ingest leaves no cache entry behind") {
    import graft.core.SnapshotStore
    val st = new SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("graft-ing-cache").toString)
    spark.catalog.clearCache()
    (1L to 3L).foreach(e => IngestPipeline.ingestBatchToStore(spark, st, docs, e))
    assert(spark.sharedState.cacheManager.isEmpty,
      "every batch releases its extraction and resolved candidates")
  }

  test("twoTierMatch over an empty existing table leaves every candidate unmatched") {
    val candidates = Seq(("c1", "alpha", Seq(1f, 0f)), ("c2", "beta", Seq(0f, 1f)))
      .toDF("concept_id", "label", "embedding")
    val m = IngestPipeline.twoTierMatch(candidates, emptyConcepts)
      .select("concept_id", "resolved_id", "matched")
      .as[(String, String, Boolean)].collect().sortBy(_._1).toSeq
    assert(m == Seq(("c1", "c1", false), ("c2", "c2", false)))
  }

  test("a NaN-embedded existing concept absorbs no candidate") {
    // cosine against a NaN element is NaN, and Spark holds NaN >= 0.75:
    // unless the score is NULL, this concept matches every candidate
    val existing = Seq(("nan", "broken",
        MockExtractor.pseudoEmbedding("broken").toSeq.updated(0, Float.NaN)))
      .toDF("concept_id", "label", "embedding")
    val r = IngestPipeline.ingestBatch(spark, docs, existing, emptyInstances,
      emptyEdges, emptyLog, batchEpoch = 1L)
    assert(r.matchedCount == 0L && r.createdCount > 0L)
    assert(r.concepts.where($"concept_id" === "nan").count() == 1L)
    assert(!r.instances.select("concept_id").as[String].collect().contains("nan"))
  }

  test("one store-ingest batch runs at most 17 Spark jobs") {
    import graft.core.SnapshotStore
    val st = new SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("graft-ing-jobs").toString)
    IngestPipeline.ingestBatchToStore(spark, st, docs, batchEpoch = 1L)
    val docs2 = Seq(
      ("d3", "alpha observations support new theory building today again")
    ).toDF("doc_id", "text")
    val (_, jobs) = sparkJobsDuring(
      IngestPipeline.ingestBatchToStore(spark, st, docs2, batchEpoch = 2L))
    assert(jobs <= 17, s"$jobs Spark jobs for one batch")
  }

  test("one streaming store-ingest micro-batch runs at most 17 Spark jobs") {
    import graft.core.SnapshotStore
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val st = new SnapshotStore(spark, tmp("graft-ing-str-jobs"))
    val (src, stage) = (tmp("graft-ing-str-jobs-src"), tmp("graft-ing-str-jobs-stage"))
    docs.write.parquet(s"$src/p1")
    // every job the engine runs for micro-batch 1, on whatever thread,
    // carries the batch id as a local property
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(_.getProperty("streaming.sql.batchId") == "1"))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val q = IngestPipeline.startStoreIngest(spark, st,
      spark.readStream.schema("doc_id STRING, text STRING").parquet(s"$src/*"),
      tmp("graft-ing-str-jobs-ck"))
    try {
      q.processAllAvailable()
      Seq(("d3", "alpha observations support new theory building today again"))
        .toDF("doc_id", "text").write.parquet(s"$stage/p2")
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$stage/p2"),
        java.nio.file.Paths.get(s"$src/p2"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      org.apache.spark.graftspec.SparkTestBridge.drain(sc)
    } finally { q.stop(); sc.removeSparkListener(listener) }
    assert(st.read("epoch_log").count() == 2L, "both micro-batches committed")
    assert(jobs.get() <= 17, s"${jobs.get()} Spark jobs for one micro-batch")
  }
}
