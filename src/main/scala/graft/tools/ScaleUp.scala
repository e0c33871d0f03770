package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 audit-data generator (VERDICT r7 item #4): writes `outDir` as
  * `replicas` key-offset copies of a source scale-factor directory,
  * default 10× sf0.1 → "sf1".
  *
  * The point is a SCALE audit, so each replica must preserve sf0.1's
  * per-replica distributions while staying independent of the others —
  * otherwise growth ratios measure changed selectivity, not scaling:
  *
  *  - dims (region/nation) stay fixed, as TPC-H scales them;
  *  - every fact key gets a per-replica offset (referential integrity
  *    preserved replica-internally, no cross-replica key collisions);
  *  - document text gets a unique salt token inserted every 4th word, so
  *    every 8-gram / shingle window contains a replica-specific token →
  *    cross-replica n-gram and MinHash overlap is ZERO, while
  *    within-replica duplicate structure (exact dups, planted near-dups)
  *    is untouched. Applied to replica 0 too, so all replicas share one
  *    length distribution; n_chars is recomputed to match.
  *  - embeddings get a per-replica cyclic shift of the 64 dims — an
  *    orthogonal transform, so within-replica geometry (all cosines,
  *    distances, cluster structure) is EXACTLY sf0.1's, while
  *    cross-replica vectors decorrelate.
  *
  * Events keep their timestamps, so time windows see `replicas`× density
  * — the realistic shape for a busier stream.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val srcDir   = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir   = if (args.length > 1) args(1) else "/tmp/sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    build(spark, srcDir, outDir, replicas)
    spark.stop()
  }

  /** Library entry (no session lifecycle): Bench calls this to materialize
    * /tmp/sf1 for the standing dual-scale gate without tearing down its own
    * session (ScaleUp.main's spark.stop() would). */
  def build(spark: SparkSession, srcDir: String, outDir: String,
            replicas: Int): Unit = {

    val KeyOffset = 100000000L // > every sf0.1 key; replica i adds i*this

    // Partition counts were sized for the 10× (sf1) build; scale them with
    // the replica count so a 100× (sf10) build keeps ~the same bytes/file.
    val partScale = math.max(1, replicas / 10)
    def write(name: String, df: DataFrame, baseParts: Int): Unit = {
      df.repartition(baseParts * (if (baseParts == 1) 1 else partScale))
        .write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name done")
    }

    // A column holding the replica index, crossed in via a 10-row range.
    def replicate(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(replicas).select(col("id").as("__r")))
    def off(c: String): org.apache.spark.sql.Column =
      col(c) + col("__r") * KeyOffset

    write("region", spark.read.parquet(s"$srcDir/region.parquet"), 1)
    write("nation", spark.read.parquet(s"$srcDir/nation.parquet"), 1)

    val cust = replicate(spark.read.parquet(s"$srcDir/customer.parquet"))
      .withColumn("c_custkey", off("c_custkey")).drop("__r")
    write("customer", cust, 8)

    val supp = replicate(spark.read.parquet(s"$srcDir/supplier.parquet"))
      .withColumn("s_suppkey", off("s_suppkey")).drop("__r")
    write("supplier", supp, 4)

    val part = replicate(spark.read.parquet(s"$srcDir/part.parquet"))
      .withColumn("p_partkey", off("p_partkey")).drop("__r")
    write("part", part, 8)

    val ord = replicate(spark.read.parquet(s"$srcDir/orders.parquet"))
      .withColumn("o_orderkey", off("o_orderkey"))
      .withColumn("o_custkey", off("o_custkey")).drop("__r")
    write("orders", ord, 16)

    val li = replicate(spark.read.parquet(s"$srcDir/lineitem.parquet"))
      .withColumn("l_orderkey", off("l_orderkey"))
      .withColumn("l_partkey", off("l_partkey"))
      .withColumn("l_suppkey", off("l_suppkey")).drop("__r")
    write("lineitem", li, 32)

    val ev = replicate(graft.sources.Tables.events(spark, srcDir))
      .withColumn("event_id", off("event_id"))
      .withColumn("user_id", off("user_id")).drop("__r")
    write("events", ev, 16)

    // Salt every 4th word with a token unique to (replica, position) —
    // posInSalt varies by position so the salt itself never becomes a
    // high-frequency term that would distort tf-idf/LM statistics.
    val salted = replicate(spark.read.parquet(s"$srcDir/documents.parquet"))
      .withColumn("text", array_join(flatten(
        zip_with(split(col("text"), " "),
          sequence(lit(0), size(split(col("text"), " ")) - 1),
          (w, i) => when(i % 4 === 0,
            array(concat(lit("zq"), col("__r"), lit("s"), i % 97), w))
            .otherwise(array(w)))), " "))
      .withColumn("doc_id", off("doc_id"))
      .withColumn("n_chars", length(col("text")))
      .drop("__r")
    write("documents", salted, 8)

    // Orthogonal per-replica transform: cyclic shift by r mod d, negated
    // for every second wrap of the shift range — both preserve all
    // within-replica cosines/distances exactly, and any two replicas
    // r < 2d apart get distinct (shift, sign) pairs, so cross-replica
    // vectors stay decorrelated even past `d` replicas.
    val emb = replicate(spark.read.parquet(s"$srcDir/embeddings.parquet"))
      .withColumn("__s", pmod(col("__r"), size(col("embedding"))).cast("int"))
      .withColumn("__neg",
        pmod(col("__r").cast("int") / size(col("embedding")), lit(2)) === 1)
      .withColumn("embedding",
        concat(slice(col("embedding"), col("__s") + 1,
            size(col("embedding")) - col("__s")),
          slice(col("embedding"), lit(1), col("__s"))))
      .withColumn("embedding",
        when(col("__neg"), transform(col("embedding"), x => -x))
          .otherwise(col("embedding")))
      .withColumn("vec_id", off("vec_id")).drop("__r", "__s", "__neg")
    write("embeddings", emb, 4)
  }
}
