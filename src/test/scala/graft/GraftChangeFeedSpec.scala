package graft

import org.apache.spark.sql.streaming.Trigger
import graft.core.SnapshotStore

/** The snapshot store's streaming change feed
  * (`spark.readStream.format("graft").option("feed", "changes")`): each
  * micro-batch is exactly the rows `append` admitted at the versions in the
  * offset range — never a re-read of the accumulated snapshot — rewrites
  * are skipped, and a checkpointed restart resumes from the version offset
  * exactly-once. */
class GraftChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def feed(root: String, table: String) =
    spark.readStream.format("graft")
      .option("root", root).option("table", table).option("feed", "changes")
      .load()

  test("micro-batches emit per-version deltas, not snapshots") {
    val root = tmp("graft-cf")
    val st = new SnapshotStore(spark, root)
    st.append("docs", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    st.append("docs", Seq((3L, "c")).toDF("id", "s"))

    val sink = tmp("graft-cf-out")
    val q = feed(root, "docs").writeStream
      .format("parquet").option("path", sink)
      .option("checkpointLocation", tmp("graft-cf-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // snapshot v2 holds {1,2,3}; the FEED must hold each admitted row once
    // (a snapshot re-read would deliver 1 and 2 twice: 2 + 3 = 5 rows)
    val out = spark.read.parquet(sink).select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("a rewrite (bare commit) records no change set and is skipped") {
    val root = tmp("graft-cf-rw")
    val st = new SnapshotStore(spark, root)
    st.append("t", Seq(1L).toDF("id"))
    st.commit("t", Seq(100L, 200L).toDF("id")) // rewrite: no delta
    st.append("t", Seq(2L).toDF("id"))

    assert(st.changedVersions("t") == Seq(1L, 3L))
    assert(st.changesAt("t", 2L).isEmpty)
    assert(st.changesAt("t", 3L).get.as[Long].collect().toSeq == Seq(2L))

    val sink = tmp("graft-cf-rw-out")
    val q = feed(root, "t").writeStream
      .format("parquet").option("path", sink)
      .option("checkpointLocation", tmp("graft-cf-rw-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.read.parquet(sink).as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L)) // 100/200 arrived via rewrite: not a delta
  }

  test("feed=cdf streams tagged insert/delete images; a signed fold stays exact across a delete") {
    // The CDF stream is what frees a long-running incremental consumer
    // from the resubscribe contract: deletes (including sparse DV
    // deletes) and updates arrive as tagged row images, so a signed fold
    // (Incremental.advanceSigned's shape) nets to exactly the snapshot
    // aggregate — no restart, no snapshot re-read.
    import org.apache.spark.sql.functions.{col, sum, when}
    val root = tmp("graft-cdf")
    val st = new SnapshotStore(spark, root)
    st.append("t", Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("k", "v"))
    st.delete("t", col("k") === "a" && col("v") === 2.0)
    st.append("t", Seq(("b", 7.0)).toDF("k", "v"))
    st.update("t", col("k") === "b" && col("v") === 5.0,
      Map("v" -> org.apache.spark.sql.functions.lit(50.0)))

    val sink = tmp("graft-cdf-out")
    val q = spark.readStream.format("graft")
      .option("root", root).option("table", "t").option("feed", "cdf")
      .load().writeStream
      .format("parquet").option("path", sink)
      .option("checkpointLocation", tmp("graft-cdf-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val out = spark.read.parquet(sink)
    assert(out.columns.toSeq == Seq("k", "v", "_change_type", "_version"))
    val images = out.select("k", "v", "_change_type")
      .as[(String, Double, String)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(images == Map(
      ("a", 1.0, "insert") -> 1, ("a", 2.0, "insert") -> 1,
      ("b", 5.0, "insert") -> 1,                       // v1 admits
      ("a", 2.0, "delete") -> 1,                       // v2 delete image
      ("b", 7.0, "insert") -> 1,                       // v3 admit
      ("b", 5.0, "delete") -> 1, ("b", 50.0, "insert") -> 1)) // v4 update
    // signed fold over the streamed images == the snapshot aggregate
    val folded = out
      .withColumn("sign", when(col("_change_type") === "insert", 1).otherwise(-1))
      .groupBy("k")
      .agg(sum(col("sign")).as("n"), sum(col("v") * col("sign")).as("total"))
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    val snap = st.read("t").groupBy("k")
      .agg(org.apache.spark.sql.functions.count(col("v")).as("n"),
        sum(col("v")).as("total"))
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    assert(folded == snap, s"signed fold $folded must equal snapshot $snap")
  }

  test("feed=cdf survives INSERT OVERWRITE: synthesized images, no resubscribe") {
    // The r15 Delta-CDF parity point: a rewrite recorded no images, but
    // both snapshots it connects are retained immutable versions, so the
    // planner synthesizes whole-snapshot delete+insert images at the
    // rewrite's version — a long-running consumer's signed fold stays
    // exact across the overwrite with NO resubscribe and no snapshot
    // re-read by the consumer.
    import org.apache.spark.sql.functions.{col, count, sum, when}
    val root = tmp("graft-cdf-ow")
    val st = new SnapshotStore(spark, root)
    val sink = tmp("graft-cdf-ow-out")
    val ckpt = tmp("graft-cdf-ow-ck")
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("root", root).option("table", "t").option("feed", "cdf")
        .load().writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    st.append("t", Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("k", "v"))
    st.delete("t", col("k") === "a" && col("v") === 2.0)
    run() // consumer is live before the overwrite
    // the OVERWRITE (same schema): replaces the table's content wholesale
    st.commit("t", Seq(("b", 5.0), ("c", 9.0)).toDF("k", "v"))
    st.append("t", Seq(("d", 3.0)).toDF("k", "v")) // feed continues after
    run() // same checkpoint: NO resubscribe, NO fresh start
    val out = spark.read.parquet(sink)
    // the overwrite version carries full before(delete)/after(insert) images
    val owVersion = st.history("t").filter(v =>
      st.nonFeedMutationsSince("t", v - 1).contains(v)).head
    val ow = out.where(col("_version") === owVersion)
      .select("k", "v", "_change_type").as[(String, Double, String)]
      .collect().groupBy(identity).view.mapValues(_.length).toMap
    assert(ow == Map(
      ("a", 1.0, "delete") -> 1, ("b", 5.0, "delete") -> 1, // pre-image
      ("b", 5.0, "insert") -> 1, ("c", 9.0, "insert") -> 1), // post-image
      ow.toString)
    // signed fold over EVERYTHING streamed == the final snapshot exactly
    val folded = out
      .withColumn("sign", when(col("_change_type") === "insert", 1).otherwise(-1))
      .groupBy("k")
      .agg(sum(col("sign")).as("n"), sum(col("v") * col("sign")).as("total"))
      .where(col("n") =!= 0)
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    val snap = st.read("t").groupBy("k")
      .agg(count(col("v")).as("n"), sum(col("v")).as("total"))
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    assert(folded == snap, s"signed fold $folded must equal snapshot $snap")
    // the batch feed twin folds exactly too
    val batchFolded = st.changeFeedSince("t", 0L)
      .withColumn("sign", when(col("_change_type") === "insert", 1).otherwise(-1))
      .groupBy("k")
      .agg(sum(col("sign")).as("n"), sum(col("v") * col("sign")).as("total"))
      .where(col("n") =!= 0)
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    assert(batchFolded == snap, s"batch fold $batchFolded vs $snap")
    // a SCHEMA-CHANGING overwrite stays out of the feed (resubscribe):
    // the detector flags it and no partial images leak
    val pre = st.latestVersion("t").get
    st.commit("t", Seq(("z", 1L)).toDF("k", "n2"))
    assert(st.nonFeedMutationsSince("t", pre).nonEmpty)
    assert(st.changeFeedSince("t", pre).where(col("_change_type") === "insert")
      .count() == 0L, "schema-changing rewrite must not leak images")
    // a DV-CARRYING pre-image synthesizes through the DV-filtering scan:
    // vectored (already-deleted) rows must NOT reappear as delete images
    val root2 = tmp("graft-cdf-ow-dv")
    val st2 = new SnapshotStore(spark, root2)
    st2.commit("t", spark.range(0, 2000)
      .select(col("id").as("k"), (col("id") * 2).as("v")))
    st2.delete("t", col("k").isin(3L, 777L)) // sparse -> deletion vector
    assert(st2.dvInChain("t", st2.latestVersion("t").get).nonEmpty,
      "precondition: the delete vectored")
    val since = st2.latestVersion("t").get
    st2.commit("t", spark.range(5000, 5003)
      .select(col("id").as("k"), (col("id") * 2).as("v"))) // overwrite
    val ow2 = st2.changeFeedSince("t", since)
    assert(ow2.where(col("_change_type") === "delete").count() == 1998L,
      "the synthesized pre-image must exclude vectored rows")
    assert(ow2.where(col("_change_type") === "delete" &&
      col("k").isin(3L, 777L)).count() == 0L)
    assert(ow2.where(col("_change_type") === "insert").count() == 3L)
  }

  test("feed=cdf survives a RETYPE-WIDEN overwrite (int -> long): both twins exact") {
    // The retype half of the lossless-widen parity point: an overwrite
    // that only WIDENS a column natively (the store's own probe-pinned
    // int->long / float->double read matrix) keeps both feed twins
    // exact — the batch feed's synthesized narrow pre-images coerce up
    // in the union, the streaming feed reads narrow history under a
    // post-widen subscriber's wide type via the vectorized reader's
    // native widening. The REVERSE skew (pinned narrow subscriber over
    // widened data) has no lossless read and keeps the refusal, as does
    // a lossy narrowing rewrite.
    import org.apache.spark.sql.functions.{col, count, sum, when}
    val root = tmp("graft-cdf-rtw")
    val st = new SnapshotStore(spark, root)
    st.append("t", Seq(("a", 1), ("b", 5)).toDF("k", "v")) // v: INT
    val preSchema = st.readAt("t", 1L).schema
    st.commit("t", Seq(("b", 5L), ("c", 9L)).toDF("k", "v")) // retype-widen
    st.append("t", Seq(("d", 3L)).toDF("k", "v"))
    val owVersion = 2L
    assert(st.nonFeedMutationsSince("t", 1L).contains(owVersion))

    // batch twin: the retype-widen synthesizes images (narrow pre-image
    // as deletes, wide post-image as inserts) and the fold is exact
    val batch = st.changeFeedSince("t", 0L)
    val ow = batch.where(col("_version") === owVersion)
      .select("k", "v", "_change_type")
      .as[(String, Long, String)]
      .collect().groupBy(identity).view.mapValues(_.length).toMap
    assert(ow == Map(
      ("a", 1L, "delete") -> 1, ("b", 5L, "delete") -> 1,
      ("b", 5L, "insert") -> 1, ("c", 9L, "insert") -> 1), ow.toString)
    val snap = st.read("t").groupBy("k")
      .agg(count(col("v")).as("n"), sum(col("v")).as("total"))
      .as[(String, Long, Long)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    val batchFolded = batch
      .withColumn("sign", when(col("_change_type") === "insert", 1).otherwise(-1))
      .groupBy("k")
      .agg(sum(col("sign")).as("n"), sum(col("v") * col("sign")).as("total"))
      .where(col("n") =!= 0)
      .as[(String, Long, Long)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    assert(batchFolded == snap, s"batch fold $batchFolded vs $snap")

    // streaming twin: a subscriber (re)started AFTER the widen holds the
    // wide schema and spans the retype from version 0 — narrow history
    // reads under the wide type, fold exact
    val sink = tmp("graft-cdf-rtw-out")
    val ckpt = tmp("graft-cdf-rtw-ck")
    val q = spark.readStream.format("graft")
      .option("root", root).option("table", "t").option("feed", "cdf")
      .load().writeStream
      .format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val folded = spark.read.parquet(sink)
      .withColumn("sign", when(col("_change_type") === "insert", 1).otherwise(-1))
      .groupBy("k")
      .agg(sum(col("sign")).as("n"), sum(col("v") * col("sign")).as("total"))
      .where(col("n") =!= 0)
      .as[(String, Long, Long)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    assert(folded == snap, s"streaming fold $folded must equal snapshot $snap")

    // the REVERSE skew: a subscriber still pinned to the NARROW (int)
    // schema cannot read widened data losslessly — the retype rewrite
    // yields it NO images (resubscribe), never silently-downcast ones
    val narrowStream = new graft.sources.GraftCdfMicroBatchStream(
      root, "t", preSchema, 1L)
    assert(narrowStream.planInputPartitions(
      graft.sources.GraftVersionOffset(1L),
      graft.sources.GraftVersionOffset(owVersion)).isEmpty,
      "a pinned narrow subscriber must receive NO images for a retype-widen")

    // a LOSSY narrowing rewrite (long -> int) keeps the refusal
    val pre = st.latestVersion("t").get
    st.commit("t", Seq(("z", 2)).toDF("k", "v"))
    assert(st.nonFeedMutationsSince("t", pre).nonEmpty)
    assert(st.changeFeedSince("t", pre).where(col("_change_type") === "insert")
      .count() == 0L, "a narrowing rewrite must not leak images")
  }

  test("feed=cdf survives an ADD-COLUMN overwrite: widened images, no resubscribe") {
    // The lossless-widen CDF parity point: a rewrite that only ADDS
    // columns keeps both feed twins exact — the batch feed null-pads the
    // pre-image's new columns (unionByName), the streaming feed serves
    // both directions of the schema skew (a pinned narrow subscriber
    // prunes the post-image; a restarted wide subscriber null-pads the
    // pre-image's trailing adds). Drop/retype keeps the refusal.
    import org.apache.spark.sql.functions.{col, count, sum, when}
    val root = tmp("graft-cdf-wide")
    val st = new SnapshotStore(spark, root)
    val sink = tmp("graft-cdf-wide-out")
    val ckpt = tmp("graft-cdf-wide-ck")
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("root", root).option("table", "t").option("feed", "cdf")
        .load().writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    st.append("t", Seq(("a", 1.0), ("b", 5.0)).toDF("k", "v"))
    run() // consumer live BEFORE the widen, at schema (k, v)
    // the ADD-COLUMN overwrite: k and v survive with their types; w is new
    st.commit("t", Seq(("b", 5.0, 10L), ("c", 9.0, 20L)).toDF("k", "v", "w"))
    st.append("t", Seq(("d", 3.0, 30L)).toDF("k", "v", "w"))
    run() // restart AFTER the widen: the re-resolved (k,v,w) subscriber
          // reads the narrow pre-image with w null-padded — no resubscribe
    val out = spark.read.option("mergeSchema", "true").parquet(sink)
    val owVersion = st.history("t").filter(v =>
      st.nonFeedMutationsSince("t", v - 1).contains(v)).head
    val ow = out.where(col("_version") === owVersion)
      .select("k", "v", "w", "_change_type")
      .as[(String, Double, Option[Long], String)]
      .collect().groupBy(identity).view.mapValues(_.length).toMap
    assert(ow == Map(
      ("a", 1.0, None, "delete") -> 1, ("b", 5.0, None, "delete") -> 1,
      ("b", 5.0, Some(10L), "insert") -> 1,
      ("c", 9.0, Some(20L), "insert") -> 1), ow.toString)
    // signed fold over the shared columns == the head snapshot exactly
    val folded = out
      .withColumn("sign", when(col("_change_type") === "insert", 1).otherwise(-1))
      .groupBy("k")
      .agg(sum(col("sign")).as("n"), sum(col("v") * col("sign")).as("total"))
      .where(col("n") =!= 0)
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    val snap = st.read("t").groupBy("k")
      .agg(count(col("v")).as("n"), sum(col("v")).as("total"))
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    assert(folded == snap, s"signed fold $folded must equal snapshot $snap")
    // the batch twin folds exactly too, pre-images null-padded on w
    val batch = st.changeFeedSince("t", 0L)
    assert(batch.where(col("_version") === owVersion &&
      col("_change_type") === "delete" && col("w").isNull).count() == 2L)
    val batchFolded = batch
      .withColumn("sign", when(col("_change_type") === "insert", 1).otherwise(-1))
      .groupBy("k")
      .agg(sum(col("sign")).as("n"), sum(col("v") * col("sign")).as("total"))
      .where(col("n") =!= 0)
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    assert(batchFolded == snap, s"batch fold $batchFolded vs $snap")
    // a DROP-column overwrite is NOT lossless: both twins keep the refusal
    val pre = st.latestVersion("t").get
    st.commit("t", Seq(("z", 2.0)).toDF("k", "v")) // w dropped
    assert(st.nonFeedMutationsSince("t", pre).nonEmpty)
    assert(st.changeFeedSince("t", pre).where(col("_change_type") === "insert")
      .count() == 0L, "a narrowing rewrite must not leak images")
    // The STREAMING twin's behavior at the drop splits by SUBSCRIBER
    // schema — the point of the (prev, v) PAIR binding:
    val dropV = st.history("t").max
    //  (a) a consumer still holding the WIDE (k,v,w) schema must get NO
    //      images for the drop rewrite: w is its TRAILING column, so a
    //      naive per-side bind would null-pad the post-drop snapshot and
    //      the fold would silently null a column the rewrite destroyed;
    //      the pair binding sees (prev has w, v lost w) = DROP → refuse
    val wideStream = new graft.sources.GraftCdfMicroBatchStream(
      root, "t", st.readAt("t", owVersion).schema, pre)
    assert(wideStream.planInputPartitions(
      graft.sources.GraftVersionOffset(pre),
      graft.sources.GraftVersionOffset(dropV)).isEmpty,
      "a wide subscriber must receive NO images for a drop rewrite")
    //  (b) a consumer (re)subscribed AFTER the drop holds the narrow
    //      (k,v) schema; every one of ITS columns survives with its type,
    //      so the rewrite serves PRUNED images and its fold stays exact —
    //      the drop is invisible in this projection
    run()
    val post = spark.read.option("mergeSchema", "true").parquet(sink)
      .where(col("_version") === dropV)
    assert(post.count() == 4L, "pruned pre(3 deletes) + post(1 insert)")
    val foldedPost = spark.read.option("mergeSchema", "true").parquet(sink)
      .withColumn("sign", when(col("_change_type") === "insert", 1).otherwise(-1))
      .groupBy("k")
      .agg(sum(col("sign")).as("n"), sum(col("v") * col("sign")).as("total"))
      .where(col("n") =!= 0)
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    val snapPost = st.read("t").groupBy("k")
      .agg(count(col("v")).as("n"), sum(col("v")).as("total"))
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    assert(foldedPost == snapPost,
      s"narrow fold across the drop $foldedPost must equal $snapPost")
  }

  test("the feed reads across a metadata RENAME: old deltas resolve by field ID") {
    // A subscription resolves the table's LATEST schema; the history it
    // replays spans the rename, so PRE-rename change sets — files written
    // under the OLD name — must read their values under the NEW name.
    // They do because the store's chains are field-ID'd from birth: the
    // name changed, the ID didn't, and the reader matches by ID. (This is
    // exactly the hazard that forbids mid-lineage ID adoption: an ID-less
    // old delta under an ID'd subscriber schema fails loudly instead.)
    val root = tmp("graft-cdf-ren")
    val st = new SnapshotStore(spark, root)
    val sink = tmp("graft-cdf-ren-out")
    st.append("t", Seq(("a", 1.0)).toDF("k", "v")) // OLD-name delta
    st.renameColumns("t", Map("v" -> "weight")) // data-less, content-neutral
    assert(st.commitProps("t", st.latestVersion("t").get)
      .get(graft.core.SnapshotStore.OpProp).contains("rename-columns-metadata"))
    st.append("t", Seq(("b", 7.0)).toDF("k", "weight")) // NEW-name delta
    val q = spark.readStream.format("graft")
      .option("root", root).option("table", "t").option("feed", "cdf")
      .load().writeStream
      .format("parquet").option("path", sink)
      .option("checkpointLocation", tmp("graft-cdf-ren-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.read.parquet(sink)
    assert(out.columns.toSeq == Seq("k", "weight", "_change_type", "_version"),
      "a subscription speaks the table's current names")
    val rows = out.select("k", "weight", "_change_type")
      .as[(String, Double, String)].collect().toSet
    assert(rows == Set(("a", 1.0, "insert"), ("b", 7.0, "insert")),
      s"the pre-rename delta's VALUES must resolve under the new name: $rows")
    // the batch twin reads the same history identically
    val batch = st.changeFeedSince("t", 0L).select("k", "weight", "_change_type")
      .as[(String, Double, String)].collect().toSet
    assert(batch == rows, s"batch feed drifted: $batch")
  }

  test("adoptFieldIds upgrades a legacy table; feeds span the adoption boundary") {
    import scala.jdk.CollectionConverters._
    val root = tmp("graft-adopt")
    val st = new SnapshotStore(spark, root)
    st.append("t", Seq(("a", 1.0)).toDF("k", "v"))
    // simulate a pre-field-id store: strip the id metadata from every
    // pinned schema (data files keep whatever footers they have; the
    // SCHEMA governs resolution)
    val dir = java.nio.file.Paths.get(root, "t")
    val s0 = java.nio.file.Files.list(dir)
    try s0.iterator().asScala
      .filter(_.getFileName.toString.startsWith("v=")).foreach { vd =>
        val f = vd.resolve("_snapshot_schema.json")
        if (java.nio.file.Files.exists(f)) {
          val sch = org.apache.spark.sql.types.DataType.fromJson(
            java.nio.file.Files.readString(f))
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          java.nio.file.Files.writeString(f,
            org.apache.spark.sql.types.StructType(sch.fields.map(x =>
              x.copy(metadata = org.apache.spark.sql.types.Metadata.empty))).json)
        }
      }
    finally s0.close()
    graft.core.SnapshotStore.dropCachesForTests()
    st.append("t", Seq(("b", 2.0)).toDF("k", "v")) // legacy delta
    assert(!graft.core.SnapshotStore.schemaHasFieldIds(st.snapshotSchema("t")))
    // ADOPT: one rewrite; content-neutral to feeds; chain becomes ID'd
    val adoptV = st.adoptFieldIds("t")
    assert(graft.core.SnapshotStore.schemaHasFieldIds(st.snapshotSchema("t")))
    assert(st.adoptFieldIds("t") == adoptV, "idempotent no-op once ID'd")
    assert(st.nonFeedMutationsSince("t", adoptV - 1).isEmpty,
      "adoption is content-neutral: feeds must not resubscribe")
    st.append("t", Seq(("c", 3.0)).toDF("k", "v")) // post-adoption delta
    // a feed replay from 0 spans the boundary: legacy deltas read by
    // NAME, post-adoption by ID — values exact throughout
    val sink = tmp("graft-adopt-out")
    def run(startingVersion: Long, sinkDir: String): Unit = {
      val q = spark.readStream.format("graft")
        .option("root", root).option("table", "t").option("feed", "cdf")
        .option("startingVersion", startingVersion.toString)
        .load().writeStream
        .format("parquet").option("path", sinkDir)
        .option("checkpointLocation", tmp("graft-adopt-ck"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run(0L, sink)
    val rows = spark.read.parquet(sink).select("k", "v", "_change_type")
      .as[(String, Double, String)].collect().toSet
    assert(rows == Set(("a", 1.0, "insert"), ("b", 2.0, "insert"),
      ("c", 3.0, "insert")), rows.toString)
    // post-adoption the rename is a metadata commit
    st.renameColumns("t", Map("v" -> "weight"))
    assert(st.commitProps("t", st.latestVersion("t").get)
      .get(graft.core.SnapshotStore.OpProp).contains("rename-columns-metadata"))
    st.append("t", Seq(("d", 4.0)).toDF("k", "weight"))
    // a NEW subscriber from 0 now spans rename + adoption: the legacy
    // prefix carries a name the subscriber no longer knows — REFUSE
    // loudly (silent nulls are not an option), naming the remedy
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val bad = intercept[Exception](run(0L, tmp("graft-adopt-bad")))
    assert(messages(bad).exists(_.contains("resubscribe")), bad.toString)
    // ...and the remedy works: startingVersion at the adoption version
    val sink2 = tmp("graft-adopt-out2")
    run(adoptV - 1, sink2)
    val rows2 = spark.read.parquet(sink2).select("k", "weight", "_change_type")
      .as[(String, Double, String)].collect().toSet
    assert(rows2 == Set(("c", 3.0, "insert"), ("d", 4.0, "insert")),
      rows2.toString)
  }

  test("vacuumed history refuses lagging feed consumers loudly, never gaps") {
    // Reclaimed versions simply vanish from `history`, so before the
    // retention horizon a lagging changesSince/changeFeedSince would
    // silently emit a GAPPED delta stream — corruption for every
    // incremental consumer. The horizon marker turns that into a loud
    // refusal naming the remedy; consumers at or past it are untouched.
    import org.apache.spark.sql.functions.col
    val root = tmp("graft-vac-feed")
    val st = new SnapshotStore(spark, root)
    st.append("t", Seq(1L).toDF("id"))
    st.append("t", Seq(2L).toDF("id"))
    st.compact("t") // self-contained head: ancestors become reclaimable
    st.append("t", Seq(3L).toDF("id"))
    val horizonPos = st.latestVersion("t").get
    st.vacuum("t", keepLast = 2)
    assert(st.vacuumHorizon("t") > 0L, "vacuum must record the horizon")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // batch feeds refuse from 0 (the reclaimed appends' deltas are gone)
    val e1 = intercept[Exception](st.changesSince("t", 0L).count())
    assert(messages(e1).exists(_.contains("vacuumed")), e1.toString)
    val e2 = intercept[Exception](st.changeFeedSince("t", 0L).count())
    assert(messages(e2).exists(_.contains("vacuumed")), e2.toString)
    // ...but a consumer positioned at/past the horizon reads normally
    assert(st.changesSince("t", st.vacuumHorizon("t")).count() >= 0L)
    // the streaming twin refuses from 0 too — loudly, at planning
    val bad = intercept[Exception] {
      val q = spark.readStream.format("graft")
        .option("root", root).option("table", "t").option("feed", "cdf")
        .load().writeStream
        .format("parquet").option("path", tmp("graft-vac-feed-out"))
        .option("checkpointLocation", tmp("graft-vac-feed-ck"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(messages(bad).exists(_.contains("vacuumed")), bad.toString)
    // and from the horizon it streams
    val sink = tmp("graft-vac-feed-out2")
    val q2 = spark.readStream.format("graft")
      .option("root", root).option("table", "t").option("feed", "cdf")
      .option("startingVersion", st.vacuumHorizon("t").toString)
      .load().writeStream
      .format("parquet").option("path", sink)
      .option("checkpointLocation", tmp("graft-vac-feed-ck2"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(sink).where(col("id") === 3L).count() == 1L)
    val _ = horizonPos
    // REWRITE-image integrity under vacuum: when the rewrite's true
    // predecessor snapshot was reclaimed, the synthesized before-image
    // cannot be constructed — must refuse loudly, never emit images
    // from an older ancestor (silent fold corruption)
    val root2 = tmp("graft-vac-ow")
    val st2 = new SnapshotStore(spark, root2)
    st2.append("t", Seq(1L).toDF("id")) // v1
    st2.append("t", Seq(2L).toDF("id")) // v2
    st2.commit("t", Seq(9L).toDF("id")) // v3: rewrite over v2
    st2.append("t", Seq(10L).toDF("id")) // v4
    st2.vacuum("t", keepLast = 2) // reclaims v1, v2 — the pre-image
    assert(st2.vacuumHorizon("t") >= 2L)
    // a consumer AT the horizon still reaches the rewrite's version
    // range, but its pre-image is gone: loud refusal on both twins
    val e3 = intercept[Exception](
      st2.changeFeedSince("t", st2.vacuumHorizon("t")).count())
    assert(messages(e3).exists(_.contains("pre-image")), e3.toString)
    val e4 = intercept[Exception] {
      val q = spark.readStream.format("graft")
        .option("root", root2).option("table", "t").option("feed", "cdf")
        .option("startingVersion", st2.vacuumHorizon("t").toString)
        .load().writeStream
        .format("parquet").option("path", tmp("graft-vac-ow-out"))
        .option("checkpointLocation", tmp("graft-vac-ow-ck"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(messages(e4).exists(_.contains("pre-image")), e4.toString)
    // past the rewrite, the feed serves normally again
    assert(st2.changeFeedSince("t", 3L).where(col("id") === 10L).count() == 1L)
  }

  test("changeFeedBootstrap reconstructs below the horizon: snapshot-as-inserts + deltas") {
    // The remedy the refusal above names: a consumer below the horizon
    // restarts from the oldest RETAINED snapshot emitted as insert
    // images at its version, then true deltas — a complete, gap-free
    // reconstruction bounded by retained bytes, whatever was vacuumed.
    import org.apache.spark.sql.functions.{col, sum, when, lit}
    val root = tmp("graft-feed-boot")
    val st = new SnapshotStore(spark, root)
    st.append("t", Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")) // v1
    st.append("t", Seq((1L, 1.0), (3L, 30.0)).toDF("k", "v"))  // v2
    st.delete("t", col("k") === 2L)                            // v3
    st.compact("t")                                            // v4
    st.append("t", Seq((4L, 4.0)).toDF("k", "v"))              // v5
    st.delete("t", col("k") === 3L)                            // v6
    st.vacuum("t", keepLast = 3)
    assert(st.vacuumHorizon("t") >= 3L)
    val b = st.oldestFeedVersion("t")
    assert(b > st.vacuumHorizon("t"))
    val feed = st.changeFeedBootstrap("t")
    // the bootstrap's floor: all images stamped AT or AFTER the oldest
    // retained version — nothing pretends to be vacuumed history
    assert(feed.agg(org.apache.spark.sql.functions.min(col("_version")))
      .head().getLong(0) == b)
    // a signed fold of the bootstrap equals the head snapshot exactly
    val folded = feed
      .withColumn("_s", when(col("_change_type") === "delete", lit(-1.0))
        .otherwise(lit(1.0)))
      .groupBy(col("k")).agg(sum(col("v") * col("_s")).as("tv"),
        sum(col("_s")).as("n"))
      .where(col("n") > 0)
      .select(col("k"), col("tv"), col("n"))
      .as[(Long, Double, Double)].collect().toSet
    val snap = st.read("t").groupBy(col("k"))
      .agg(sum(col("v")).as("tv"),
        org.apache.spark.sql.functions.count(lit(1)).cast("double").as("n"))
      .as[(Long, Double, Double)].collect().toSet
    assert(folded == snap, s"bootstrap fold $folded != snapshot $snap")
  }

  test("feed=cdf restart resumes from the version offset exactly-once") {
    import org.apache.spark.sql.functions.col
    val root = tmp("graft-cdf-rs")
    val st = new SnapshotStore(spark, root)
    val sink = tmp("graft-cdf-rs-out")
    val ckpt = tmp("graft-cdf-rs-ck")
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("root", root).option("table", "t").option("feed", "cdf")
        .load().writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    st.append("t", Seq(1L, 2L).toDF("id"))
    run()
    st.delete("t", col("id") === 1L)
    run()
    val out = spark.read.parquet(sink).select("id", "_change_type")
      .as[(Long, String)].collect().sorted.toSeq
    assert(out == Seq((1L, "delete"), (1L, "insert"), (2L, "insert")),
      "no image re-emitted across the checkpointed restart")
  }

  test("a delete version is skipped by the streaming insert feed (resubscribe contract)") {
    // The streaming feed's contract is "rows append admitted": a delete
    // records no INSERT change set, so the stream must walk past its
    // version (the removed rows live in the batch change-data feed,
    // changeFeedSince, for consumers that fold retractions).
    import org.apache.spark.sql.functions.col
    val root = tmp("graft-cf-del")
    val st = new SnapshotStore(spark, root)
    st.append("t", Seq(1L, 2L).toDF("id"))
    st.delete("t", col("id") === 1L)
    st.append("t", Seq(3L).toDF("id"))
    assert(st.changedVersions("t") == Seq(1L, 3L))
    val sink = tmp("graft-cf-del-out")
    val q = feed(root, "t").writeStream
      .format("parquet").option("path", sink)
      .option("checkpointLocation", tmp("graft-cf-del-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.read.parquet(sink).as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 3L)) // feed replays admits; 1's delete is CDF-only
  }

  test("checkpointed restart resumes from the version offset exactly-once") {
    val root = tmp("graft-cf-rs")
    val st = new SnapshotStore(spark, root)
    val sink = tmp("graft-cf-rs-out")
    val ckpt = tmp("graft-cf-rs-ck")
    def run(): Unit = {
      val q = feed(root, "t").writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    st.append("t", Seq(1L, 2L).toDF("id"))
    run()
    st.append("t", Seq(3L).toDF("id"))
    run()
    val out = spark.read.parquet(sink).as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 3L)) // 1,2 NOT re-emitted on restart
  }

  test("startingVersion skips history already consumed elsewhere") {
    val root = tmp("graft-cf-sv")
    val st = new SnapshotStore(spark, root)
    st.append("t", Seq(1L).toDF("id"))
    st.append("t", Seq(2L).toDF("id"))
    val sink = tmp("graft-cf-sv-out")
    val q = spark.readStream.format("graft")
      .option("root", root).option("table", "t").option("feed", "changes")
      .option("startingVersion", "1").load()
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", tmp("graft-cf-sv-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(sink).as[Long].collect().toSeq == Seq(2L))
  }

  test("changesSince is the batch catch-up: deltas after an offset, tagged") {
    val root = tmp("graft-cs")
    val st = new SnapshotStore(spark, root)
    st.append("t", Seq(1L).toDF("id"))
    st.commit("t", Seq(100L).toDF("id")) // rewrite: absent from the feed
    st.append("t", Seq(2L).toDF("id"))
    st.append("t", Seq(3L).toDF("id"))
    val all = st.changesSince("t").select("id", "_version")
      .as[(Long, Long)].collect().sorted
    assert(all.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 4L)))
    assert(st.changesSince("t", sinceVersion = 3L).select("id")
      .as[Long].collect().toSeq == Seq(3L))
    // caught-up consumer: empty frame, schema preserved
    val empty = st.changesSince("t", sinceVersion = 4L)
    assert(empty.isEmpty && empty.columns.toSeq == Seq("id", "_version"))
  }

  test("changeFeedSince carries deletes with change-type tags (batch CDF)") {
    import org.apache.spark.sql.functions.col
    val root = tmp("graft-cdf")
    val st = new SnapshotStore(spark, root)
    st.append("t", Seq((1L, "x"), (2L, "y")).toDF("id", "s"))
    st.append("t", Seq((3L, "z")).toDF("id", "s"))
    val dv = st.delete("t", col("id") === 2L)
    val feed = st.changeFeedSince("t")
      .select("id", "_version", "_change_type")
      .as[(Long, Long, String)].collect().toSet
    assert(feed == Set((1L, 1L, "insert"), (2L, 1L, "insert"),
      (3L, 2L, "insert"), (2L, dv, "delete")))
    // offset past the delete: caught-up
    assert(st.changeFeedSince("t", sinceVersion = dv).isEmpty)
    // deletedRowsAt exposes exactly the removed rows, None elsewhere
    assert(st.deletedRowsAt("t", dv).get.select("id")
      .as[Long].collect().toSeq == Seq(2L))
    assert(st.deletedRowsAt("t", 1L).isEmpty)
    // vacuum keeps the CDF lag contract: dropping old versions drops
    // their change data with them (chain ancestors of the head survive)
    assert(st.nonFeedMutationsSince("t", 0L).isEmpty)
  }

  test("SnapshotSink appends a stream exactly-once; replays are skipped") {
    val root = tmp("graft-sink")
    val st = new SnapshotStore(spark, root)
    val src = tmp("graft-sink-src")
    def write(part: String, ids: Seq[Long]): Unit =
      ids.toDF("id").write.parquet(s"$src/$part")
    write("p1", Seq(1L, 2L))
    val ckpt = tmp("graft-sink-ck")
    def run(): Unit = {
      val q = graft.streaming.SnapshotSink.start(
        spark.readStream.schema("id LONG").parquet(s"$src/*"), st, "t", ckpt)
      q.processAllAvailable(); q.stop()
    }
    run()
    write("p2", Seq(3L))
    run() // checkpointed restart: p1's batch must not re-append
    assert(st.read("t").select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    // batch ids rode inside the committed rows (the atomicity carrier)
    assert(st.read("t").columns.contains("_batch_id"))

    // direct replay of an already-committed id: the at-least-once case
    // foreachBatch hands us after a sink-side crash — no new version
    val before = st.history("t").size
    assert(!graft.streaming.SnapshotSink.appendBatch(st, "t",
      Seq(99L).toDF("id"), graft.streaming.SnapshotSink.lastBatchId(st, "t").get))
    assert(st.history("t").size == before)
    // and a genuinely new id commits
    assert(graft.streaming.SnapshotSink.appendBatch(st, "t",
      Seq(4L).toDF("id"), graft.streaming.SnapshotSink.lastBatchId(st, "t").get + 1))
    assert(st.read("t").select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L))
  }

  test("multi-table exactly-once sink: one batch splits atomically, replays skip") {
    import graft.streaming.SnapshotSink
    import org.apache.spark.sql.functions.col
    val root = tmp("graft-sinkall")
    val st = new SnapshotStore(spark, root)
    val src = tmp("graft-sinkall-src")
    def write(part: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "kind").write.parquet(s"$src/$part")
    write("p1", Seq((1L, "c"), (10L, "e"), (11L, "e")))
    val ckpt = tmp("graft-sinkall-ck")
    def split(b: org.apache.spark.sql.DataFrame) = Map(
      "concepts" -> b.where(col("kind") === "c").select("id"),
      "edges" -> b.where(col("kind") === "e").select("id"))
    def run(): Unit = {
      val q = SnapshotSink.startAll(
        spark.readStream.schema("id LONG, kind STRING").parquet(s"$src/*"),
        st, split, ckpt)
      q.processAllAvailable(); q.stop()
    }
    run()
    write("p2", Seq((2L, "c"), (20L, "e")))
    run() // checkpointed restart: p1's batch must not re-append anywhere
    assert(st.read("concepts").select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    assert(st.read("edges").select("id").as[Long].collect().sorted.toSeq
      == Seq(10L, 11L, 20L))

    // direct replay of a committed id: nothing commits on EITHER table
    val id = SnapshotSink.lastBatchId(st, "concepts").get
    val before = (st.history("concepts").size, st.history("edges").size)
    assert(!SnapshotSink.appendAllBatch(st, Map(
      "concepts" -> Seq(99L).toDF("id"), "edges" -> Seq(99L).toDF("id")), id))
    assert((st.history("concepts").size, st.history("edges").size) == before)

    // a batch whose split is EMPTY for one table: the other table's
    // evidence alone must make the replay check skip it next time
    assert(SnapshotSink.appendAllBatch(st, Map(
      "concepts" -> Seq.empty[Long].toDF("id"),
      "edges" -> Seq(30L).toDF("id")), id + 1))
    assert(!SnapshotSink.appendAllBatch(st, Map(
      "concepts" -> Seq(3L).toDF("id"), "edges" -> Seq(31L).toDF("id")), id + 1))
    assert(st.read("edges").select("id").as[Long].collect().sorted.toSeq
      == Seq(10L, 11L, 20L, 30L))

    // crash AFTER the txn intent: recovery completes the WHOLE batch on
    // both tables, and the replayed foreachBatch call then skips it —
    // exactly-once survives the worst-placed crash
    SnapshotStore.testTxnIntentHook =
      () => throw new RuntimeException("simulated crash after intent")
    intercept[RuntimeException](SnapshotSink.appendAllBatch(st, Map(
      "concepts" -> Seq(4L).toDF("id"), "edges" -> Seq(40L).toDF("id")), id + 2))
    SnapshotStore.testTxnIntentHook = () => ()
    assert(!SnapshotSink.appendAllBatch(st, Map(
      "concepts" -> Seq(4L).toDF("id"), "edges" -> Seq(40L).toDF("id")), id + 2),
      "the rolled-forward batch must read as committed on replay")
    assert(st.read("concepts").select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 4L)) // 3 was only ever in a SKIPPED replay
    assert(st.read("edges").select("id").as[Long].collect().sorted.toSeq
      == Seq(10L, 11L, 20L, 30L, 40L)) // 31 likewise
  }

  test("schema evolution: added columns drop from a pinned feed; retypes are refused") {
    val root = tmp("graft-cf-evolve")
    val st = new SnapshotStore(spark, root)
    st.append("docs", Seq((1L, "a")).toDF("id", "s"))

    val sink = tmp("graft-cf-evolve-out")
    val ckpt = tmp("graft-cf-evolve-ck")
    def drain(): Unit = {
      val q = feed(root, "docs").writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain() // pins the (id, s) schema in the sink

    // a widened append mid-stream: the new column is dropped from this
    // feed's batches (pinned schema), the shared columns stream through
    st.append("docs", Seq((2L, "b", 9L)).toDF("id", "s", "extra"))
    // and an append missing a pinned column null-fills it
    st.append("docs", Seq(3L).toDF("id"))
    drain()
    val out = spark.read.parquet(sink).select("id", "s")
      .as[(Long, Option[String])].collect().toSet
    assert(out == Set((1L, Some("a")), (2L, Some("b")), (3L, None)))

    // retyping an existing column is refused at append time — the one
    // evolution no pinned reader could survive
    val err = intercept[IllegalArgumentException] {
      st.append("docs", Seq(("4", "d")).toDF("id", "s"))
    }
    assert(err.getMessage.contains("retypes"))
  }

  test("lastBatchId walks past empty change sets instead of degrading") {
    val root = tmp("graft-sink-empty")
    val st = new SnapshotStore(spark, root)
    assert(graft.streaming.SnapshotSink.appendBatch(st, "t",
      Seq(1L).toDF("id"), 0L))
    // an empty micro-batch commits nothing at all now
    val versions = st.history("t").size
    assert(graft.streaming.SnapshotSink.appendBatch(st, "t",
      Seq.empty[Long].toDF("id"), 1L))
    assert(st.history("t").size == versions)
    // a zero-row change set in history (e.g. written before the
    // empty-batch skip existed) must not blind the replay check: the walk
    // falls back to the newest change set that carries a batch id
    st.append("t", Seq.empty[(Long, Long)].toDF("id", "_batch_id"))
    assert(graft.streaming.SnapshotSink.lastBatchId(st, "t").contains(0L))
    assert(!graft.streaming.SnapshotSink.appendBatch(st, "t",
      Seq(99L).toDF("id"), 0L)) // replay still detected
  }

  test("the replay check reads the batch id from commit properties: no Spark job, kept across a relink") {
    import graft.streaming.SnapshotSink
    val st = new SnapshotStore(spark, tmp("graft-sink-props"))
    def batch(c: Long, e: Long) = Map(
      "concepts" -> Seq(c).toDF("id"), "edges" -> Seq(e).toDF("id"))
    assert(SnapshotSink.appendAllBatch(st, batch(1L, 10L), 0L))
    // a sibling commits to `edges` between this batch's candidate writes
    // and its commit: the edges candidate relinks onto the sibling's head
    var fired = false
    SnapshotStore.testRaceHook = () => if (!fired) {
      fired = true
      new SnapshotStore(spark, st.root).append("edges", Seq(11L).toDF("id"))
    }
    val won = try SnapshotSink.appendAllBatch(st, batch(2L, 20L), 1L)
      finally SnapshotStore.testRaceHook = () => ()
    assert(won && fired)
    assert(st.commitProps("edges", st.latestVersion("edges").get)
      .get(SnapshotSink.BatchIdProp).contains("1"), "the relinked candidate lost its batch id")
    val (last, jobs) = sparkJobsDuring(
      Seq("concepts", "edges").map(SnapshotSink.lastBatchId(st, _)))
    assert(last == Seq(Some(1L), Some(1L)))
    assert(jobs == 0, s"$jobs Spark jobs to read two tables' last batch ids")
    val before = (st.history("concepts"), st.history("edges"))
    assert(!SnapshotSink.appendAllBatch(st, batch(3L, 30L), 1L), "replay not detected")
    assert((st.history("concepts"), st.history("edges")) == before)
    assert(st.read("edges").select("id").as[Long].collect().sorted.toSeq
      == Seq(10L, 11L, 20L))
  }

  test("DedupIngest replay is exactly-once, including a crash between appends") {
    val root = tmp("graft-di-replay")
    val st = new SnapshotStore(spark, root)
    val ingest = new graft.streaming.DedupIngest(spark, st)
    def docsCount = st.read("docs").count()
    def indexReps = st.read("fp_index").select("rep_id").as[Long].collect().toSet

    val b0 = Seq(1L -> "alpha beta", 2L -> "gamma delta").toDF("doc_id", "text")
    ingest.processBatch(b0, 0L)
    val (d0, i0) = (st.history("docs").size, st.history("fp_index").size)
    // full replay (crash after both appends, before the checkpoint write):
    // zero new docs, zero new index rows, zero new versions
    ingest.processBatch(b0, 0L)
    assert(st.history("docs").size == d0 && st.history("fp_index").size == i0)
    assert(docsCount == 2L && indexReps == Set(1L, 2L))

    // a crash in the batch's one commit BEFORE its intent: nothing is
    // exposed, and the replay on a reopened store admits the batch
    val b1 = Seq(3L -> "alpha beta", 4L -> "epsilon zeta").toDF("doc_id", "text")
    var fired = false
    SnapshotStore.testRaceHook = () => if (!fired) {
      fired = true; throw new RuntimeException("simulated crash before intent")
    }
    val e1 = try intercept[RuntimeException](ingest.processBatch(b1, 1L))
      finally SnapshotStore.testRaceHook = () => ()
    assert(e1.getMessage.contains("simulated crash"))
    assert(docsCount == 2L && indexReps == Set(1L, 2L), "nothing exposed")
    new graft.streaming.DedupIngest(spark, new SnapshotStore(spark, root))
      .processBatch(b1, 1L)
    // a crash AFTER the intent: the reopened store's replay rolls the
    // batch forward and skips it on its committed batch id
    val b2 = Seq(5L -> "epsilon zeta", 6L -> "eta theta", 7L -> "eta theta")
      .toDF("doc_id", "text")
    SnapshotStore.testTxnIntentHook =
      () => throw new RuntimeException("simulated crash after intent")
    val e2 = try intercept[RuntimeException](ingest.processBatch(b2, 2L))
      finally SnapshotStore.testTxnIntentHook = () => ()
    assert(e2.getMessage.contains("simulated crash"))
    val reopened = new graft.streaming.DedupIngest(spark,
      new SnapshotStore(spark, root))
    reopened.processBatch(b2, 2L)
    // every doc admitted once; the index holds each fingerprint once
    val admitted = reopened.corpus().get.select("doc_id").as[Long].collect()
    assert(admitted.sorted.toSeq == Seq(1L, 2L, 4L, 6L))
    assert(indexReps == Set(1L, 2L, 4L, 6L))
    assert(st.read("fp_index").select("fingerprint").distinct().count() == 4L &&
      st.read("fp_index").count() == 4L)
    // and replaying the committed batch once more is a no-op
    val (d2, i2) = (st.history("docs").size, st.history("fp_index").size)
    reopened.processBatch(b2, 2L)
    assert(st.history("docs").size == d2 && st.history("fp_index").size == i2)
  }

  test("feed composes with DedupIngest: admitted docs stream downstream") {
    // the loop the store closes: streaming dedup-on-ingest admits docs →
    // the admitted table's change feed drives a downstream incremental
    // consumer, each admitted doc exactly once
    val root = tmp("graft-cf-di")
    val st = new SnapshotStore(spark, root)
    val src = tmp("graft-cf-di-src")
    def write(part: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.parquet(s"$src/$part")
    write("p1", Seq(1L -> "alpha beta", 2L -> "gamma delta"))
    val ingest = new graft.streaming.DedupIngest(spark, st)
    val q1 = ingest.start(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(s"$src/*"))
    q1.processAllAvailable()
    write("p2", Seq(3L -> "alpha beta", 4L -> "epsilon zeta")) // 3 is a dup
    q1.processAllAvailable(); q1.stop()

    val sink = tmp("graft-cf-di-out")
    val q2 = feed(root, "docs").writeStream
      .format("parquet").option("path", sink)
      .option("checkpointLocation", tmp("graft-cf-di-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val out = spark.read.parquet(sink).select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 4L)) // each admitted doc exactly once
  }
}
