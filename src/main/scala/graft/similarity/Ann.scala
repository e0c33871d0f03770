package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.functions.{CosineSimilarity, VectorOps}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers, trading recall for scan cost (the reference only ever does
  * the brute-force scan client-side, api/app/lib/age_client/query.py:35-119
  * — fine at 10³ vectors, not at 10¹⁰):
  *
  *  - `bruteForceTopK`: exact; one scored scan + TakeOrderedAndProject.
  *    At 100 TB this is still the right plan when the query batch is small:
  *    it reads each partition once, keeps k rows per partition, and
  *    shuffles only n_partitions × k rows to the driver-side heap.
  *  - `ivfTopK`: inverted-file — vectors pre-assigned to the nearest of C
  *    centroids (one pass), queries probe only `nprobe` cells. The cell
  *    assignment is a partition-pruning predicate: with the table written
  *    partitioned by `cell`, Catalyst prunes (C - nprobe)/C of the scan.
  *  - `lshBuckets`: random-hyperplane signature bucketing (cosine LSH) —
  *    candidate generation for near-dup joins (see Dedup.minhashNearDups
  *    for the text analog).
  */
object Ann {

  /** Exact top-k by cosine: score → filter → orderBy.limit (V1 kernel). */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, threshold: Double = -1.0): DataFrame = {
    val q = VectorOps.vecLit(query)
    vectors
      .withColumn("sim", VectorOps.cosine(col(vecCol), q))
      .where(col("sim") >= threshold)
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Assign each vector to its nearest centroid id (IVF cell). Centroids
    * are a driver-side constant (trained by sampling — here k-means-free:
    * caller provides them, e.g. first-C sample or KMeans.fit). */
  def assignCells(vectors: DataFrame, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    // One struct per centroid, max_by similarity — stays in codegen.
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(VectorOps.cosine(col(vecCol), VectorOps.vecLit(c)).as("sim"),
        lit(i).as("cell"))
    }
    vectors.withColumn("cell", array_max(array(scored: _*)).getField("cell"))
  }

  /** Train IVF centroids with Lloyd iterations (spherical k-means: the
    * assignment metric is [[assignCells]]'s cosine, so trained cells are
    * exactly the cells the index probes — training with L2 and probing
    * with cosine would cost recall). Seeded and deterministic: the initial
    * centroids are the k vectors with the smallest xxhash64(vector, seed),
    * i.e. a seeded uniform sample that is stable across partitionings and
    * reruns (reference contract: the projection service's cluster-then-name
    * pipeline, embedding_projection_service.py:753-807, which k-means its
    * corpus before naming clusters).
    *
    * Each iteration is one distributed pass: assign (scan-shaped, codegen)
    * → per-(cell, dim) mean via posexplode + partial-aggregated groupBy —
    * k·d tiny rows collect to the driver per iteration, never the corpus.
    * An iteration that EMPTIES a cell (two seeds landed in one planted
    * cluster, one centroid captures nothing) respawns that cell's centroid
    * on the corpus's current worst-fit vectors — the standard Lloyd
    * degeneracy repair, kept deterministic by a seeded-hash tiebreak — so
    * all k cells end populated and probe budgets buy real recall. */
  def trainCentroids(vectors: DataFrame, vecCol: String, k: Int,
      iters: Int = 5, seed: Long = 42L): Seq[Seq[Double]] = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0 (got k=$k iters=$iters)")
    val v = vectors.select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull)
    var cents: Seq[Seq[Double]] = v
      .withColumn("h", xxhash64(col("v"), lit(seed)))
      .orderBy(col("h")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(cents.nonEmpty, "trainCentroids: no non-null vectors to sample")
    def assignWithSim(cs: Seq[Seq[Double]]): DataFrame = {
      val scored = cs.zipWithIndex.map { case (c, i) =>
        struct(VectorOps.cosine(col("v"), VectorOps.vecLit(c)).as("sim"),
          lit(i).as("cell"))
      }
      v.withColumn("best", array_max(array(scored: _*)))
        .select(col("v"), col("best.cell").as("cell"), col("best.sim").as("sim"))
    }
    // Respawn the empty cells' centroids on the corpus's worst-fit vectors
    // — a TakeOrdered of |empty| rows, not a corpus collect. A respawned
    // centroid IS a corpus vector (self-similarity 1), so its cell captures
    // at least that vector on the next assignment.
    def respawn(assigned: DataFrame, cur: Seq[Seq[Double]],
        empty: Seq[Int]): Seq[Seq[Double]] = {
      val worst = assigned
        .orderBy(col("sim").asc, xxhash64(col("v"), lit(seed)).asc)
        .limit(empty.size)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val repl = empty.zip(worst).toMap
      cur.zipWithIndex.map { case (c, i) => repl.getOrElse(i, c) }
    }
    for (_ <- 1 to iters) {
      val assigned = assignWithSim(cents)
      val means = assigned
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect() // k·d rows of centroid state — driver-side by design
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      val updated = cents.indices.map(i => means.getOrElse(i, cents(i)))
      val empty = cents.indices.filterNot(means.contains)
      cents =
        if (empty.isEmpty) updated
        else respawn(assigned, updated, empty)
    }
    // The last update can still strand a cell (means moved a centroid off
    // every vector's argmax) — repair until every cell is populated, so the
    // k the caller asked for is the k the index actually has. Each round's
    // respawned centroids self-capture, so this converges in one round in
    // practice; bounded anyway.
    var repairs = 0
    var needRepair = true
    while (needRepair && repairs < 4) {
      val assigned = assignWithSim(cents)
      val occupied = assigned.groupBy(col("cell")).count()
        .collect().map(_.getInt(0)).toSet
      val empty = cents.indices.filterNot(occupied)
      if (empty.isEmpty) needRepair = false
      else { cents = respawn(assigned, cents, empty); repairs += 1 }
    }
    cents
  }

  /** The `nprobe` cell ids whose centroids are cosine-nearest to the
    * query — driver-side over the C centroids (an index-metadata lookup,
    * like the query-vector literal itself). Tiebreak: higher cell id
    * first, mirroring [[assignCells]]'s struct-max assignment tiebreak. */
  def nearestCells(centroids: Seq[Seq[Double]], query: Seq[Double],
      nprobe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) =>
        val dot = c.zip(query).map { case (a, b) => a * b }.sum
        val n = math.sqrt(c.map(x => x * x).sum) * math.sqrt(query.map(x => x * x).sum)
        (if (n == 0) -1.0 else dot / n, i)
      }
      .sortBy { case (sim, i) => (-sim, -i) }.take(nprobe).map(_._2)

  /** IVF search: probe only the `nprobe` cells nearest to the query.
    * `cells` must carry the `cell` column from [[assignCells]]. */
  def ivfTopK(cells: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], query: Seq[Double], k: Int,
      nprobe: Int): DataFrame = {
    val probeCells = nearestCells(centroids, query, nprobe)
    bruteForceTopK(
      cells.where(col("cell").isin(probeCells: _*)), // partition-pruning predicate
      idCol, vecCol, query, k)
  }

  /** Random-hyperplane LSH signature: bit i = sign(v · h_i). Vectors in the
    * same bucket are cosine-similar candidates. Hyperplanes are derived
    * deterministically from a seed. */
  def lshBucket(vecCol: Column, dim: Int, bits: Int, seed: Long): Column = {
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
    planes.zipWithIndex.map { case (p, i) =>
      when(VectorOps.dot(vecCol, VectorOps.vecLit(p)) >= 0, lit(1L) * lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Candidate near-neighbor pairs: bucket-join on the LSH signature then
    * exact-cosine verify — the embedding analog of MinHash LSH. */
  def lshNearNeighbors(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, bits: Int, minCosine: Double, seed: Long = 42L): DataFrame = {
    val b = vectors.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"),
      lshBucket(col(vecCol), dim, bits, seed).as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        VectorOps.cosine(col("a.v"), col("b.v")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Batched exact top-k: for each query row, the `k` corpus rows whose
    * vectors are most cosine-similar to its vector, as
    * `(query_id, rn, corpus_id, sim)`, ranked by `sim` descending (NULL
    * last), then `corpus_id` ascending — V1 run as a join, the shape of the
    * reference's batch grounding joins J3/J4.
    *
    * The query set is collected once to the driver as dense vectors with
    * their norms, and the corpus spreads over the session's cores with one
    * `repartition(defaultParallelism)`, so the n×m scoring runs on every
    * core whatever the corpus's file layout. Each partition scores its rows
    * through [[CosineSimilarity.score]] (the codegen kernel's bits and
    * NULLs) and keeps, per query, only the rows whose score reaches that
    * partition's k-th best score, ties included. NULL ranks lowest: a
    * NULL-scored row survives only while the partition holds fewer than k
    * scores. A row of the global top k is in its own partition's top k, so
    * the `row_number` window over the survivors returns exactly the rows a
    * window over every pair would, for any id type, while sorting at most
    * partitions × queries × (k + ties) rows instead of n×m.
    *
    * Memory: the query set on the driver and in each task (it must fit, as
    * the broadcast this replaces had to), plus O(queries × k) candidates
    * per task — more only where scores tie at the k-th place, or where a
    * partition holds fewer than k scores for a query. */
  def topKJoin(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int): DataFrame = {
    require(k > 0, s"topKJoin needs k > 0 (got $k)")
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).cast("array<double>"))
    val qRows = q.collect()
    val qIds = qRows.map(_.get(0))
    val qVecs = qRows.map(dense(_, 1))
    val qNorms = qVecs.map(v => if (v == null) 0.0 else CosineSimilarity.norm(v))
    val c = corpus.select(col(corpusId).as("corpus_id"), col(corpusVec).cast("array<double>"))
    val survivors = StructType(Seq(q.schema("query_id"), c.schema("corpus_id"),
      StructField("sim", DoubleType)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("corpus_id").asc)
    c.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions { rows =>
        val best = Array.fill(qIds.length)(new Candidates(k))
        rows.foreach { r =>
          val id = r.get(0)
          val x = dense(r, 1)
          var i = 0
          while (i < best.length) {
            best(i).offer(id,
              if (x == null || qVecs(i) == null) null
              else CosineSimilarity.score(x, 0, x.length, qVecs(i), qNorms(i)))
            i += 1
          }
        }
        best.iterator.zip(qIds).flatMap { case (b, qid) => b.rows(qid) }
      }(Encoders.row(survivors))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("corpus_id"), col("sim"))
  }

  /** Field `i` of `r` (an `array<double>`) as a dense vector; null for a
    * NULL array or one holding a NULL element, which the cosine kernels
    * score NULL. */
  private def dense(r: Row, i: Int): Array[Double] =
    if (r.isNullAt(i)) null
    else {
      val v = r.getSeq[java.lang.Double](i)
      if (v.contains(null)) null else v.iterator.map(_.doubleValue).toArray
    }

  /** One query's candidates from one corpus partition: the k best-scored
    * rows in a min-heap on score, the rows tied with the heap's least score
    * outside it, and the NULL-scored rows while fewer than k rows have a
    * score. Scores are finite ([[CosineSimilarity.score]] gives NULL for
    * the rest), so `>` and `==` order them as the window does. */
  private final class Candidates(k: Int) {
    private val heap = new java.util.PriorityQueue[(Double, Any)](
      (a: (Double, Any), b: (Double, Any)) => java.lang.Double.compare(a._1, b._1))
    private val tied = ArrayBuffer.empty[(Double, Any)]
    private val nulls = ArrayBuffer.empty[Any]

    def offer(id: Any, score: java.lang.Double): Unit =
      if (score == null) { if (heap.size < k) nulls += id }
      else {
        val s = score.doubleValue
        if (heap.size < k) {
          heap.add((s, id))
          if (heap.size == k) nulls.clear()
        } else {
          val floor = heap.peek._1
          if (s > floor) {
            val out = heap.poll()
            heap.add((s, id))
            // the evicted row still ties the new k-th score, or it and every
            // row tied with it now rank below it
            if (heap.peek._1 == out._1) tied += out else tied.clear()
          } else if (s == floor) tied += ((s, id))
        }
      }

    def rows(qid: Any): Iterator[Row] =
      (heap.iterator.asScala ++ tied.iterator).map { case (s, id) => Row(qid, id, s) } ++
        nulls.iterator.map(id => Row(qid, id, null))
  }
}
