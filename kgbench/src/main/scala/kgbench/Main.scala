package kgbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, KnowledgeGraph}
import graft.core.SnapshotStore
import graft.graph.GraphOps
import graft.ingest.IngestPipeline
import graft.similarity.Ann

/** Workload runner: runs one workload through the engine's public API
  * and writes every timing, result and trace record as JSON lines for
  * run.py, which checks the results and computes the metrics.
  *
  * {{{
  * kgbench.Main --workload serve|ingest --inputs DIR --work DIR
  *   --seconds S --trace 0|1 --setup-reps N --read-rounds N --cpus N --out FILE
  * }}}
  *
  * With `--trace 1` the measured phase runs twice: untraced, then with
  * the [[Tracer]]'s listeners registered, so run.py can report the
  * tracing overhead beside the per-layer numbers.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = GraftSession.local(opt("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    val out = new Out(opt("out"))
    out.rec("mark", "name" -> "session", "ms" -> Clock.nowMs())
    try {
      val run = new Run(spark, out, opt("inputs"), opt("work"),
        (opt("seconds").toDouble * 1000).toLong, opt("setup-reps").toInt)
      val trace = opt("trace") == "1"
      opt("workload") match {
        case "serve" => Serve.run(run, trace)
        case "ingest" => Ingest.run(run, trace, opt("read-rounds").toInt)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out.rec("final", "vm_hwm_kb" -> vmHwmKb())
    } finally {
      out.close()
      spark.stop()
    }
  }

  /** Peak resident set of this JVM (VmHWM), in KiB. */
  private def vmHwmKb(): Long = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  }
}

/** What every workload needs: session, output, paths, run length. */
final class Run(val spark: SparkSession, val out: Out, val inputs: String,
    val work: String, val measureMs: Long, val setupReps: Int) {

  def lines(name: String): Vector[Array[String]] = {
    val src = Source.fromFile(s"$inputs/$name", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t")).toVector
    finally src.close()
  }

  /** Repeat a fresh set-up `setupReps` times (reporting each duration),
    * discard all but the last result and return it. */
  def setup[T](make: Int => T, discard: T => Unit = (_: T) => ()): T = {
    val made = (0 until setupReps).map { r =>
      val t0 = Clock.nowMs()
      val m = make(r)
      out.rec("setup", "rep" -> r, "s" -> (Clock.nowMs() - t0) / 1000)
      m
    }
    made.init.foreach(discard)
    made.last
  }

  def check(name: String, ok: Boolean, detail: Any = null): Unit =
    out.rec("check", "name" -> name, "ok" -> ok, "detail" -> detail)
}

/** Optional span wrapper: a no-op without a tracer. */
final class Spans(val tracer: Option[Tracer]) {
  def apply[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))

  /** A span that also owns jobs from threads the caller does not own. */
  def ambient[T](name: String)(f: => T): T = tracer match {
    case None => f
    case Some(t) => t.span(name) {
      t.ambient.set(t.currentSpan)
      try f finally t.ambient.set(null)
    }
  }
}

object Vectors {
  def parse(s: String): Seq[Double] = s.split(",").toSeq.map(_.toDouble)
}

/** The interactive read API under two closed-loop clients. */
object Serve {
  val RelTypes: Seq[String] = Seq("SUPPORTS", "CONTRADICTS", "VALIDATES",
    "REFUTES", "CONFIRMS", "DISPROVES", "REINFORCES", "OPPOSES", "ENABLES",
    "PREVENTS")

  val SpanOf: Map[String, String] = Map(
    "search" -> "similarity.search", "related" -> "graph.related",
    "related_filtered" -> "graph.related_filtered",
    "find_path" -> "graph.find_path", "find_paths" -> "graph.find_paths",
    "concept_details" -> "analysis.concept_details",
    "fuse_query" -> "similarity.fuse_query")

  /** The flagship KG construction at 5 neighbours per concept: concepts
    * are the embedding rows, the vocabulary's embeddings are the 10 label
    * centroids, and each concept links to its 5 nearest neighbours with a
    * hash-typed relationship. Written to storage so requests read tables,
    * never the k-NN join. */
  def build(spark: SparkSession, inputs: String, dir: String): Unit = {
    val emb = spark.read.parquet(s"$inputs/embeddings.parquet")
      .select(concat(lit("c"), col("vec_id")).as("concept_id"),
        concat(lit("label"), col("label")).as("label"),
        col("embedding").cast("array<double>").as("embedding"),
        col("label").as("label_id"))
    val types = array(RelTypes.map(lit): _*)
    val vocab = emb.select(col("label_id"), posexplode(col("embedding")))
      .groupBy(col("label_id"), col("pos")).agg(avg(col("col")).as("v"))
      .groupBy(col("label_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(element_at(types, col("label_id") + 1).as("relationship_type"),
        transform(col("pv"), e => e.getField("v")).as("embedding"))
    val edges = Ann.topKJoin(
        emb.select(col("concept_id"), col("embedding")), "concept_id", "embedding",
        emb.select(col("concept_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 6)
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id").as("src"), col("corpus_id").as("dst"),
        element_at(types,
          (abs(hash(col("query_id"), col("corpus_id"))) % 10 + 1).cast("int"))
          .as("rel_type"),
        round(col("sim"), 6).as("confidence"))
    emb.select("concept_id", "label", "embedding").write.parquet(s"$dir/concepts.parquet")
    edges.write.parquet(s"$dir/edges.parquet")
    vocab.write.parquet(s"$dir/vocab.parquet")
  }

  def load(spark: SparkSession, dir: String): KnowledgeGraph = {
    val edges = spark.read.parquet(s"$dir/edges.parquet")
    KnowledgeGraph(spark,
      concepts = spark.read.parquet(s"$dir/concepts.parquet"),
      edges = edges,
      evidence = edges.select(col("src").as("concept_id"),
        concat(lit("s"), col("dst")).as("source_id")),
      instances = edges.select(col("src").as("instance_id"),
        col("src").as("concept_id"), col("rel_type").as("quote")),
      vocab = spark.read.parquet(s"$dir/vocab.parquet"))
  }

  private def pairs(df: DataFrame, id: String, v: String): Seq[Seq[Any]] =
    df.select(id, v).collect().toSeq.map(r => Seq(r.get(0), r.get(1)))

  private def paths(ps: Seq[(Int, Seq[String])]): Seq[Seq[Any]] =
    ps.map { case (h, p) => Seq(h, p) }

  /** Execute one request and return its result in checkable form. */
  def exec(kg: KnowledgeGraph, req: Array[String], subsets: IndexedSeq[Seq[String]],
      spans: Spans): Any = {
    def accel[T](f: => T): T = spans.tracer match {
      case None => f
      case Some(t) =>
        val before = GraphOps.accelStatus
        val r = f
        val after = GraphOps.accelStatus
        // (graphs, summed edge counts, over-threshold entries): a load
        // changes at least one unless it evicts a graph of equal size
        t.count("graph.accel_load", if (after != before) 1 else 0)
        r
    }
    spans(SpanOf(req(0))) {
      req(0) match {
        case "search" =>
          pairs(kg.search(Vectors.parse(req(1)), limit = 10), "concept_id", "sim")
        case "related" =>
          accel(pairs(kg.related(req(1), maxDepth = 2), "concept_id", "distance"))
        case "related_filtered" =>
          accel(pairs(kg.related(req(1), maxDepth = 2,
            relTypes = Some(subsets(req(2).toInt))), "concept_id", "distance"))
        case "find_path" => paths(kg.findPath(req(1), req(2), maxHops = 6).toSeq)
        case "find_paths" => paths(kg.findPaths(req(1), req(2), maxHops = 6, maxPaths = 3))
        case "concept_details" =>
          kg.conceptDetails(req(1)).collect().toSeq.map { r: Row =>
            r.schema.fieldNames.toSeq.map(n => n -> r.getAs[Any](n)).toMap
          }
        case "fuse_query" =>
          pairs(kg.fuseQuery(Seq(Vectors.parse(req(1)), Vectors.parse(req(2))),
            Seq(Vectors.parse(req(3))), threshold = 0.5, limit = 10),
            "concept_id", "similarity")
      }
    }
  }

  /** Closed loop: each client sends its next request when the previous
    * one returns, until the measuring window closes. Client c starts at
    * request `from(c)` of its sequence; returns where each one stopped. */
  def closedLoop(run: Run, phase: String, kg: KnowledgeGraph,
      clients: Seq[Vector[Array[String]]], from: Seq[Int],
      subsets: IndexedSeq[Seq[String]], spans: Spans): Seq[Int] = {
    val start = Clock.nowMs()
    val deadline = start + run.measureMs
    val recs = clients.map(_ => ArrayBuffer.empty[Seq[(String, Any)]])
    val next = Array.from(from)
    val threads = clients.zipWithIndex.map { case (reqs, c) =>
      new Thread(() => {
        var i = from(c)
        while (Clock.nowMs() < deadline) {
          val req = reqs(i % reqs.size)
          val t0 = Clock.nowMs()
          val r = Try(exec(kg, req, subsets, spans))
          val t1 = Clock.nowMs()
          recs(c) += Seq("phase" -> phase, "client" -> c, "idx" -> (i % reqs.size),
            "op" -> req(0), "start_ms" -> t0, "end_ms" -> t1) ++ (r match {
              case Success(v) => Seq("ok" -> true, "result" -> v)
              case Failure(e) => Seq("ok" -> false, "error" -> e.toString)
            })
          i += 1
        }
        next(c) = i
      }, s"kgbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    run.out.rec("phase", "name" -> phase, "start_ms" -> start, "end_ms" -> Clock.nowMs())
    recs.flatten.foreach(r => run.out.rec("op", r: _*))
    next.toSeq
  }

  def run(run: Run, trace: Boolean): Unit = {
    val spark = run.spark
    val dir = run.setup { r =>
      val d = s"${run.work}/kg_$r"
      build(spark, run.inputs, d)
      load(spark, d).concepts.count()
      d
    }
    run.out.rec("kg", "dir" -> dir)
    val kg = load(spark, dir)
    val subsets = run.lines("rel_subsets.tsv").map(_.head.split(",").toSeq)
    val none = new Spans(None)
    run.out.rec("mark", "name" -> "setup_done", "ms" -> Clock.nowMs())
    val clients = Seq("client0.tsv", "client1.tsv").map(run.lines)
    // warm every op's code path, split across as many threads as clients
    val warm = run.lines("warmup.tsv")
    val warmers = warm.indices.groupBy(_ % clients.size).values.toVector.map { part =>
      new Thread(() => part.foreach(i => exec(kg, warm(i), subsets, none)))
    }
    warmers.foreach(_.start())
    warmers.foreach(_.join())
    val stopped = closedLoop(run, "untraced", kg, clients, clients.map(_ => 0), subsets, none)
    if (trace) {
      // the traced pass continues each client's sequence, so the
      // accelerator cache sees new requests, as an untraced run would
      val t = new Tracer(spark)
      t.register()
      closedLoop(run, "traced", kg, clients, stopped, subsets, new Spans(Some(t)))
      t.dump(run.out)
      t.unregister()
    }
  }
}

/** Exactly-once streaming ingest with a reader on every new snapshot. */
object Ingest {
  val Tables: Seq[String] = Seq("concepts", "instances", "edges", "epoch_log")

  final case class State(store: SnapshotStore, query: org.apache.spark.sql.streaming.StreamingQuery,
      src: String, root: String)

  /** Move a batch file into the watched directory under a name the file
    * source skips until the final atomic rename. */
  private def land(run: Run, name: String, src: String): Unit = {
    val from = Paths.get(s"${run.inputs}/batches/$name.parquet")
    val staged = Paths.get(s"$src/_$name.parquet")
    Files.copy(from, staged)
    Files.move(staged, Paths.get(s"$src/$name.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Fresh store, the relationship vocabulary that makes ingested edges
    * traversable, a started stream, and the warm-up batch committed. */
  private def start(run: Run, root: String): State = {
    val spark = run.spark
    import spark.implicits._
    val store = new SnapshotStore(spark, s"$root/store")
    store.commit("vocab", Seq("SUPPORTS", "IMPLIES", "CAUSES", "ENABLES", "RELATES_TO")
      .toDF("relationship_type"))
    val src = s"$root/src"
    Files.createDirectories(Paths.get(src))
    val q = IngestPipeline.startStoreIngest(spark, store,
      spark.readStream.schema("doc_id STRING, text STRING").parquet(src),
      s"$root/checkpoint")
    land(run, "warmup", src)
    q.processAllAvailable()
    State(store, q, src, root)
  }

  /** Time one read; a failed read is recorded and yields None. */
  private def timed[T](run: Run, phase: String, batch: Int, kind: String)(f: => T): Option[T] = {
    val t0 = Clock.nowMs()
    val r = Try(f)
    run.out.rec("read", "phase" -> phase, "batch" -> batch, "kind" -> kind,
      "start_ms" -> t0, "end_ms" -> Clock.nowMs(), "ok" -> r.isSuccess,
      "error" -> r.failed.toOption.map(_.toString))
    r.toOption
  }

  /** One reader round on the snapshot the last commit made visible:
    * concept count, search, and the neighbourhood of the top hit. The
    * accelerator cache is emptied first, so every round reads as a reader
    * new to the snapshot, the way the first round after a commit does. */
  private def reads(run: Run, st: State, phase: String, batch: Int, round: Int,
      vec: Seq[Double], spans: Spans): Unit = {
    GraphOps.invalidateAccel()
    val n = timed(run, phase, batch, "count") {
      spans("core.read")(st.store.read("concepts").count())
    }
    val found = timed(run, phase, batch, "search") {
      spans("similarity.search_fresh") {
        val kg = KnowledgeGraph.fromStore(run.spark, st.store)
        (kg, kg.search(vec, limit = 10).select("concept_id", "sim").collect()
          .map(r => (r.getString(0), r.getDouble(1))).toSeq)
      }
    }
    for ((kg, hits) <- found; c <- n) {
      val related = timed(run, phase, batch, "related") {
        spans("graph.related_fresh") {
          kg.related(hits.head._1, maxDepth = 2).select("distance").collect()
            .map(_.getAs[Number](0).intValue).toSeq
        }
      }
      run.out.rec("read_result", "phase" -> phase, "batch" -> batch, "round" -> round,
        "concepts" -> c,
        "hits" -> hits.map(h => Seq(h._1, h._2)), "related_distances" -> related.getOrElse(Nil))
    }
  }

  /** Land batches one at a time, wait for each commit, make `rounds`
    * reader rounds on it and compact every table, until the window
    * closes. Every batch is the same whole cycle, so the samples of a
    * run do not depend on where the window ends. */
  private def measure(run: Run, st: State, phase: String, nBatches: Int, rounds: Int,
      queries: Vector[Seq[Double]], spans: Spans): Unit = {
    val start = Clock.nowMs()
    val deadline = start + run.measureMs
    var b = 0
    var streaming = true
    while (b < nBatches && streaming && Clock.nowMs() < deadline) {
      val name = f"b$b%04d"
      val committed = spans.ambient("streaming.batch") {
        land(run, name, st.src)
        val t0 = Clock.nowMs()
        val r = Try(st.query.processAllAvailable())
        run.out.rec("commit", "phase" -> phase, "batch" -> b, "start_ms" -> t0,
          "end_ms" -> Clock.nowMs(), "ok" -> r.isSuccess,
          "error" -> r.failed.toOption.map(_.toString))
        r.isSuccess
      }
      if (!committed) streaming = false  // the query is dead: stop feeding it
      else (0 until rounds).foreach(r => reads(run, st, phase, b, r, queries(b * rounds + r), spans))
      b += 1
      Tables.foreach { t =>
        val t0 = Clock.nowMs()
        spans("core.compact")(st.store.compact(t))
        run.out.rec("compact", "phase" -> phase, "table" -> t, "start_ms" -> t0,
          "end_ms" -> Clock.nowMs())
      }
    }
    run.out.rec("phase", "name" -> phase, "start_ms" -> start, "end_ms" -> Clock.nowMs(),
      "batches" -> b)
    st.query.stop()
    verify(run, st, phase, b)
  }

  /** Store invariants after the run, plus the store's size on disk. */
  private def verify(run: Run, st: State, phase: String, batches: Int): Unit = {
    val s = st.store
    val epoch = s.read("epoch_log")
    val epochs = epoch.count()
    val ids = epoch.select("_batch_id").distinct().count()
    run.check(s"$phase.epoch_rows", epochs == batches + 1, epochs)
    run.check(s"$phase.distinct_batch_ids", ids == batches + 1, ids)
    val concepts = s.read("concepts")
    val nc = concepts.count()
    val distinct = concepts.select("concept_id").distinct().count()
    run.check(s"$phase.unique_concept_ids", nc == distinct, Seq(nc, distinct))
    val edges = s.read("edges")
    val dangling = edges.select(col("src").as("concept_id"))
      .union(edges.select(col("dst").as("concept_id")))
      .join(concepts.select("concept_id"), Seq("concept_id"), "left_anti").count()
    run.check(s"$phase.edge_endpoints_present", dangling == 0, dangling)
    val sums = epoch.agg(sum("matched_concepts"), sum("created_concepts")).head()
    val walk = Files.walk(Paths.get(s"${st.root}/store"))
    val files = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).toVector
    } finally walk.close()
    run.out.rec("store", "phase" -> phase, "files" -> files.size, "bytes" -> files.sum,
      "versions" -> Tables.map(t => s.history(t).size).sum,
      "matched" -> sums.getLong(0), "created" -> sums.getLong(1))
  }

  /** Warm-up reads on a new store's warm-up snapshot: one set of rounds,
    * with query vectors no measured round uses. */
  private def warmReads(run: Run, st: State, rounds: Int, queries: Vector[Seq[Double]]): Unit =
    (0 until rounds).foreach { r =>
      reads(run, st, "warmup", -1, r, queries(queries.size - rounds + r), new Spans(None))
    }

  def run(run: Run, trace: Boolean, rounds: Int): Unit = {
    val queries = run.lines("reads.tsv").map(l => Vectors.parse(l.head))
    val nBatches = queries.size / rounds - 1
    val st = run.setup(r => start(run, s"${run.work}/ingest_$r"),
      (old: State) => old.query.stop())
    run.out.rec("mark", "name" -> "setup_done", "ms" -> Clock.nowMs())
    warmReads(run, st, rounds, queries)
    measure(run, st, "untraced", nBatches, rounds, queries, new Spans(None))
    if (trace) {
      val st2 = start(run, s"${run.work}/ingest_traced")
      warmReads(run, st2, rounds, queries)
      val t = new Tracer(run.spark)
      t.register()
      measure(run, st2, "traced", nBatches, rounds, queries, new Spans(Some(t)))
      t.dump(run.out)
      t.unregister()
    }
  }
}
