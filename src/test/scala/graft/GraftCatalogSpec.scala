package graft

import org.apache.spark.sql.functions._
import graft.core.SnapshotStore
import graft.sources.GraftCatalog
import scala.jdk.CollectionConverters._

/** The snapshot store's SQL catalog face: `SELECT … FROM <cat>.<table>`
  * over the latest snapshot, `VERSION AS OF` time travel, SHOW TABLES,
  * pushdown intact through SQL, and read-only DDL. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft-cat").toString
    val st = new SnapshotStore(spark, r)
    st.commit("docs", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    st.commit("docs", Seq((3L, "c")).toDF("id", "s"))
    st.commit("dims", Seq((7L, 70L)).toDF("k", "v"))
    spark.conf.set("spark.sql.catalog.kgcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.kgcat.root", r)
    r
  }

  test("SELECT reads the latest snapshot; VERSION AS OF time-travels") {
    root
    assert(spark.sql("SELECT id FROM kgcat.docs").as[Long].collect().toSet
      == Set(3L))
    assert(spark.sql("SELECT id FROM kgcat.docs VERSION AS OF 1")
      .as[Long].collect().toSet == Set(1L, 2L))
  }

  test("TIMESTAMP AS OF resolves expose-time stamps through SQL and the connector") {
    root
    val st = new SnapshotStore(spark, root)
    val t1 = st.commitTimeOf("docs", 1L).get
    val t2 = st.commitTimeOf("docs", 2L).get
    assert(t1 < t2, "expose stamps are strictly monotonic in version order")
    // store-level resolution
    assert(st.versionAtTimestamp("docs", t1) == 1L)
    assert(st.versionAtTimestamp("docs", t2 + 60000L) == 2L)
    val early = intercept[IllegalArgumentException](
      st.versionAtTimestamp("docs", t1 - 1L))
    assert(early.getMessage.contains("predates"))
    // SQL face: the AS OF expression evaluates to micros, floor-divided
    // back to the stamp's millis domain
    assert(spark.sql(
      s"SELECT id FROM kgcat.docs TIMESTAMP AS OF timestamp_millis(${t1}L)")
      .as[Long].collect().toSet == Set(1L, 2L))
    assert(spark.sql(
      s"SELECT id FROM kgcat.docs TIMESTAMP AS OF timestamp_millis(${t2}L)")
      .as[Long].collect().toSet == Set(3L))
    // DataFrame face: epoch-millis or ISO-8601 instant
    assert(spark.read.format("graft").option("root", root)
      .option("table", "docs").option("timestampAsOf", t1.toString).load()
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(spark.read.format("graft").option("root", root)
      .option("table", "docs")
      .option("timestampAsOf", java.time.Instant.ofEpochMilli(t2).toString)
      .load().select("id").as[Long].collect().toSet == Set(3L))
    // a timestamp-pinned table is historical: DELETE refuses like VERSION AS OF
    val del = intercept[Exception](spark.sql(
      s"DELETE FROM kgcat.docs TIMESTAMP AS OF timestamp_millis(${t1}L) WHERE id = 1"))
    assert(del.getMessage != null)
    // history TVF carries the stamps (DESCRIBE HISTORY's shape)
    graft.GraftExtensions.register(spark)
    val hist = spark.sql(
      s"SELECT version, commit_time, is_latest FROM graft_snapshot_history('$root', 'docs')")
      .collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(hist.forall(!_.isNullAt(1)), "every committed version carries a stamp")
  }

  test("SHOW TABLES lists committed store tables") {
    root
    val tables = spark.sql("SHOW TABLES IN kgcat")
      .select("tableName").as[String].collect().toSet
    assert(tables == Set("docs", "dims"))
  }

  test("filter pushdown survives the SQL catalog path") {
    root
    val q = spark.sql("SELECT id FROM kgcat.docs WHERE id > 1")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"), plan)
    assert(q.as[Long].collect().toSet == Set(3L))
  }

  test("ALTER TABLE ADD COLUMNS widens the schema; data untouched, history intact") {
    val r = java.nio.file.Files.createTempDirectory("graft-alter").toString
    val st = new SnapshotStore(spark, r)
    st.commit("t", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    spark.conf.set("spark.sql.catalog.altcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.altcat.root", r)
    spark.sql("ALTER TABLE altcat.t ADD COLUMNS (note STRING, score DOUBLE)")
    val after = spark.sql("SELECT id, note, score FROM altcat.t")
    assert(after.count() == 2)
    assert(after.where(col("note").isNull && col("score").isNull).count() == 2,
      "existing rows read null for the added columns")
    // the pre-alter version still carries the narrow schema
    assert(spark.sql("SELECT * FROM altcat.t VERSION AS OF 1")
      .columns.toSeq == Seq("id", "s"))
    // a later append fills the column; old rows stay null
    st.append("t", Seq((3L, "c", "hi", 1.5)).toDF("id", "s", "note", "score"))
    val filled = spark.sql(
      "SELECT note FROM altcat.t WHERE id = 3").as[String].head()
    assert(filled == "hi")
    // schema-only: content-neutral to incremental consumers
    assert(st.nonFeedMutationsSince("t", 1L).isEmpty,
      "an add-columns link must not blind the change feed")
    // refusals: NOT NULL, duplicate, and every non-ADD change
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val nn = intercept[Exception](
      spark.sql("ALTER TABLE altcat.t ADD COLUMNS (x INT NOT NULL)"))
    assert(messages(nn).exists(_.contains("NOT NULL")), nn.toString)
    val dup = intercept[Exception](
      spark.sql("ALTER TABLE altcat.t ADD COLUMNS (ID INT)"))
    assert(messages(dup).exists(_.contains("already exist")), dup.toString)
    val ret = intercept[Exception](
      spark.sql("ALTER TABLE altcat.t ALTER COLUMN id TYPE STRING"))
    assert(messages(ret).exists(_.contains("does not support")), ret.toString)
  }

  test("ALTER TABLE RENAME COLUMN is an OCC rewrite: values intact, history pinned") {
    val r = java.nio.file.Files.createTempDirectory("graft-rencol").toString
    val st = new SnapshotStore(spark, r)
    st.commit("t", Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "s", "w"))
    st.append("t", Seq((3L, "c", 3.0)).toDF("id", "s", "w"))
    spark.conf.set("spark.sql.catalog.rencat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rencat.root", r)
    spark.sql("ALTER TABLE rencat.t RENAME COLUMN s TO label")
    assert(spark.sql("SELECT * FROM rencat.t").columns.toSeq
      == Seq("id", "label", "w"))
    assert(spark.sql("SELECT label FROM rencat.t WHERE id = 3")
      .as[String].head() == "c")
    assert(spark.sql("SELECT count(*) FROM rencat.t").as[Long].head() == 3L)
    // pre-rename versions keep the old name (pinned per-version schemas)
    assert(spark.sql("SELECT s FROM rencat.t VERSION AS OF 1")
      .as[String].collect().toSet == Set("a", "b"))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // target collisions refuse
    val coll = intercept[Exception](st.renameColumns("t", Map("id" -> "label")))
    assert(messages(coll).exists(_.contains("collide")), coll.toString)
    // a simultaneous swap is a valid (collision-free) rename set
    st.renameColumns("t", Map("id" -> "w", "w" -> "id"))
    assert(st.read("t").columns.toSeq == Seq("w", "label", "id"))
    assert(st.read("t").where(col("w") === 3L).select(col("id"))
      .as[Double].head() == 3.0)
    // the rewrite resets the chain: a pre-rename DROP's resurrection
    // marker clears (the rewritten files no longer hold the column)
    st.dropColumns("t", Seq("label"))
    st.renameColumns("t", Map("id" -> "weight"))
    st.addColumns("t", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.StringType))))
    assert(st.read("t").where(col("label").isNotNull).count() == 0L,
      "re-added post-rewrite column must read null, never stale values")
  }

  test("RENAME COLUMN on an ID'd chain is a data-less metadata commit") {
    val r = java.nio.file.Files.createTempDirectory("graft-renmeta").toString
    val st = new SnapshotStore(spark, r)
    st.commitBucketed("t", spark.range(0, 2000)
      .select(col("id").as("k"), (col("id") * 2).as("v"),
        concat(lit("s"), col("id")).as("s")), "k", 4)
    st.append("t", spark.range(2000, 2100)
      .select(col("id").as("k"), (col("id") * 2).as("v"),
        concat(lit("s"), col("id")).as("s"))) // plain append: claim breaks, data stays
    spark.conf.set("spark.sql.catalog.renmeta", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.renmeta.root", r)
    val sizeBefore = dirSize(r)
    val preVersion = st.latestVersion("t").get
    spark.sql("ALTER TABLE renmeta.t RENAME COLUMN v TO weight")
    // DATA-LESS: no file rewritten — at 100 TB this is the whole point
    assert(dirSize(r) - sizeBefore < 4096,
      s"metadata rename wrote ${dirSize(r) - sizeBefore} bytes — it rewrote data")
    assert(st.commitProps("t", st.latestVersion("t").get)
      .get(graft.core.SnapshotStore.OpProp).contains("rename-columns-metadata"))
    // values intact under the new name, across the whole chain
    assert(spark.sql("SELECT * FROM renmeta.t").columns.toSeq
      == Seq("k", "weight", "s"))
    assert(spark.sql("SELECT count(*) FROM renmeta.t").as[Long].head() == 2100L)
    assert(spark.sql("SELECT weight FROM renmeta.t WHERE k = 7")
      .as[Long].head() == 14L)
    assert(spark.sql("SELECT weight FROM renmeta.t WHERE k = 2050")
      .as[Long].head() == 4100L)
    // filter pushdown on the renamed column still yields exact results
    assert(spark.sql("SELECT count(*) FROM renmeta.t WHERE weight >= 4000")
      .as[Long].head() == 100L)
    // pre-rename time travel reads the old name (pinned per-version schema)
    assert(spark.sql(s"SELECT v FROM renmeta.t VERSION AS OF $preVersion " +
      "WHERE k = 7").as[Long].head() == 14L)
    // content-neutral to feeds: no consumer resubscribe for a pure rename
    assert(st.nonFeedMutationsSince("t", preVersion).isEmpty,
      "a metadata rename must not blind the change feed")
    // renaming the BUCKET column maps the layout claim's name through
    val r2 = java.nio.file.Files.createTempDirectory("graft-renbkt").toString
    val st2 = new SnapshotStore(spark, r2)
    st2.commitBucketed("b", spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") + 1).as("v")), "k", 4)
    st2.renameColumns("b", Map("k" -> "key"))
    assert(st2.bucketSpecOf("b", st2.latestVersion("b").get)
      .contains(("key", 4)),
      "the bucket claim must follow the renamed column name")
    // a SWAP falls back to the honest rewrite (Spark resolves an existing
    // file NAME over the field id — probe results in SCALE.md, Round 15)
    val szPre = dirSize(r2)
    st2.renameColumns("b", Map("key" -> "v", "v" -> "key"))
    assert(dirSize(r2) - szPre > 4096, "a swap must rewrite, not alias")
    assert(st2.read("b").where(col("key") === 1L).select(col("v"))
      .as[Long].head() == 0L, "swapped values must stay exact")
  }

  test("ALTER TABLE DROP COLUMN narrows data-lessly; resurrection refused until compact") {
    val r = java.nio.file.Files.createTempDirectory("graft-dropcol").toString
    val st = new SnapshotStore(spark, r)
    st.commit("t", Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "s", "w"))
    spark.conf.set("spark.sql.catalog.dropcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dropcat.root", r)
    val sizeBefore = dirSize(r)
    spark.sql("ALTER TABLE dropcat.t DROP COLUMN w")
    assert(dirSize(r) - sizeBefore < 4096,
      "a drop link must be metadata-only — no file rewritten")
    // the column is gone from both faces; values untouched
    assert(spark.sql("SELECT * FROM dropcat.t").columns.toSeq == Seq("id", "s"))
    assert(st.read("t").columns.toSeq == Seq("id", "s"))
    assert(spark.sql("SELECT id FROM dropcat.t WHERE s = 'b'")
      .as[Long].head() == 2L)
    // time travel to the pre-drop version still reads it
    assert(spark.sql("SELECT w FROM dropcat.t VERSION AS OF 1")
      .as[Double].collect().toSet == Set(10.0, 20.0))
    // content-neutral to incremental consumers, like add-columns
    assert(st.nonFeedMutationsSince("t", 1L).isEmpty,
      "a drop-columns link must not blind the change feed")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // Resurrection on an ID'D chain (tables born under field-ID stamping
    // — every r15+ commit) is SAFE WITHOUT compact: the physical bytes
    // are still in v1's files under the OLD field id, but a re-added
    // column mints a FRESH id and readers match by id, so the dead
    // column's values are structurally unreachable — re-add reads null.
    spark.sql("ALTER TABLE dropcat.t ADD COLUMNS (w DOUBLE)")
    assert(spark.sql("SELECT w FROM dropcat.t").as[java.lang.Double]
      .collect().forall(_ == null),
      "an ID'd chain's re-added column must read null, never stale values")
    st.dropColumns("t", Seq("w"))
    // an append re-introducing the name is the same fresh-id add
    st.append("t", Seq((3L, "c", 99.0)).toDF("id", "s", "w"))
    assert(spark.sql("SELECT count(*) FROM dropcat.t").as[Long].head() == 3L)
    assert(spark.sql("SELECT w FROM dropcat.t WHERE id = 3")
      .as[java.lang.Double].head() == 99.0)
    assert(spark.sql("SELECT w FROM dropcat.t WHERE id < 3")
      .as[java.lang.Double].collect().forall(_ == null),
      "v1's dropped values must not resurrect into the re-added column")
    st.dropColumns("t", Seq("w"))
    // compact still clears the vestigial markers
    st.compact("t")
    assert(st.droppedColumnsOf("t", st.latestVersion("t").get).isEmpty)
    spark.sql("ALTER TABLE dropcat.t ADD COLUMNS (w DOUBLE)")
    assert(spark.sql("SELECT w FROM dropcat.t").as[java.lang.Double]
      .collect().forall(_ == null),
      "post-compact re-add must NOT resurrect the old values")
    // LEGACY (ID-less) chains keep the hard refusal: parquet resolves
    // those files by name, so re-adding WOULD expose stale bytes
    val lr = java.nio.file.Files.createTempDirectory("graft-droplegacy").toString
    val lst = new SnapshotStore(spark, lr)
    lst.commit("lt", Seq((1L, 7.0)).toDF("id", "w"))
    stripFieldIds(lr, "lt") // simulate a pre-field-id store
    lst.dropColumns("lt", Seq("w"))
    val re = intercept[Exception](lst.addColumns("lt",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType)))))
    assert(messages(re).exists(_.contains("previously dropped")), re.toString)
    val app = intercept[Exception](
      lst.append("lt", Seq((3L, 9.0)).toDF("id", "w")))
    assert(messages(app).exists(_.contains("re-introduces dropped")), app.toString)
    // IF EXISTS tolerates a missing column; bare form refuses
    spark.sql("ALTER TABLE dropcat.t DROP COLUMN IF EXISTS nosuch")
    val miss = intercept[Exception](
      spark.sql("ALTER TABLE dropcat.t DROP COLUMN nosuch"))
    assert(messages(miss).exists(m =>
      m.contains("no such column") || m.contains("cannot be resolved")),
      miss.toString)
    // dropping every column refuses
    st.dropColumns("t", Seq("w"))
    val all = intercept[Exception](st.dropColumns("t", Seq("id", "s")))
    assert(messages(all).exists(_.contains("every column")), all.toString)
  }

  test("dropping the bucket column breaks the chain's layout claim; other drops keep it") {
    val r = java.nio.file.Files.createTempDirectory("graft-dropbkt").toString
    val st = new SnapshotStore(spark, r)
    st.commitBucketed("t", Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("k", "s", "w"), "k", 4)
    val v1 = st.latestVersion("t").get
    assert(st.bucketSpecOf("t", v1).contains(("k", 4)))
    // dropping a NON-bucket column re-stamps the claim (files untouched)
    st.dropColumns("t", Seq("w"))
    val v2 = st.latestVersion("t").get
    assert(st.bucketSpecOf("t", v2).contains(("k", 4)),
      "a drop of an unrelated column must preserve SPJ eligibility")
    // dropping the bucket column itself must break the claim
    st.dropColumns("t", Seq("k"))
    val v3 = st.latestVersion("t").get
    assert(st.bucketSpecOf("t", v3).isEmpty,
      "the claim names a column readers can no longer see")
    assert(st.read("t").columns.toSeq == Seq("s"))
  }

  /** Simulate a PRE-FIELD-ID (legacy) store: strip the id metadata from
    * every pinned snapshot schema of `table`. Reads then resolve by name
    * (the legacy contract) and the legacy-only guards re-arm. */
  private def stripFieldIds(root: String, table: String): Unit = {
    val dir = java.nio.file.Paths.get(root, table)
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("v=")).foreach { vd =>
        val f = vd.resolve("_snapshot_schema.json")
        if (java.nio.file.Files.exists(f)) {
          val st = org.apache.spark.sql.types.DataType.fromJson(
            java.nio.file.Files.readString(f))
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          val stripped = org.apache.spark.sql.types.StructType(st.fields.map(
            x => x.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
          java.nio.file.Files.writeString(f, stripped.json)
        }
      }
    finally s.close()
    graft.core.SnapshotStore.dropCachesForTests() // schemas are memoized
  }

  private def dirSize(root: String): Long = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try w.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum
    finally w.close()
  }

  test("CHECK constraints: validated at ADD, enforced on every write path, survive overwrite") {
    val r = java.nio.file.Files.createTempDirectory("graft-check").toString
    val st = new SnapshotStore(spark, r)
    st.commit("t", Seq((1L, Some(10)), (2L, Some(20))).toDF("id", "qty"))
    spark.conf.set("spark.sql.catalog.conscat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.conscat.root", r)
    graft.GraftExtensions.register(spark)
    spark.sql("ALTER TABLE conscat.t ADD CONSTRAINT qty_pos CHECK (qty > 0)")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // ADD validates EXISTING rows (ANSI): a violating table refuses
    st.commit("bad", Seq((1L, Some(-5))).toDF("id", "qty"))
    val pre = intercept[Exception](
      st.addCheckConstraint("bad", "qty_pos", "qty > 0"))
    assert(messages(pre).exists(_.contains("existing rows violate")), pre.toString)
    // a violating SQL INSERT refuses; the table is unchanged
    val ins = intercept[Exception](
      spark.sql("INSERT INTO conscat.t VALUES (9, -5)"))
    assert(messages(ins).exists(m =>
      m.contains("CHECK") || m.contains("violates")), ins.toString)
    assert(spark.sql("SELECT count(*) FROM conscat.t").as[Long].head() == 2L)
    // the store face is equally gated (no SQL analyzer in the way)
    val app = intercept[Exception](
      st.append("t", Seq((9L, Some(-5))).toDF("id", "qty")))
    assert(messages(app).exists(_.contains("violates CHECK constraint qty_pos")),
      app.toString)
    assert(st.read("t").count() == 2)
    // NULL predicate PASSES (ANSI: violated only when FALSE)
    st.append("t", Seq((3L, None: Option[Int])).toDF("id", "qty"))
    assert(st.read("t").count() == 3)
    // a violating UPDATE refuses through the SQL face
    val upd = intercept[Exception](
      spark.sql("UPDATE conscat.t SET qty = -1 WHERE id = 1"))
    assert(messages(upd).exists(m =>
      m.contains("CHECK") || m.contains("violates")), upd.toString)
    // constraints are STANDING metadata: INSERT OVERWRITE keeps them
    spark.sql("INSERT OVERWRITE conscat.t VALUES (7, 70)")
    val post = intercept[Exception](
      st.append("t", Seq((8L, Some(-1))).toDF("id", "qty")))
    assert(messages(post).exists(_.contains("qty_pos")), post.toString)
    // a referenced column cannot be dropped or renamed from under it
    val dc = intercept[Exception](st.dropColumns("t", Seq("qty")))
    assert(messages(dc).exists(_.contains("qty_pos")), dc.toString)
    val rc = intercept[Exception](st.renameColumns("t", Map("qty" -> "n")))
    assert(messages(rc).exists(_.contains("qty_pos")), rc.toString)
    // DROP CONSTRAINT frees the write path (overwrite left 1 row)
    spark.sql("ALTER TABLE conscat.t DROP CONSTRAINT qty_pos")
    st.append("t", Seq((8L, Some(-1))).toDF("id", "qty"))
    assert(st.read("t").count() == 2)
  }

  test("SET TBLPROPERTIES pins chain-inherited metadata; reserved keys refuse") {
    val r = java.nio.file.Files.createTempDirectory("graft-props").toString
    val st = new SnapshotStore(spark, r)
    st.commit("t", Seq((1L, "a")).toDF("id", "s"))
    spark.conf.set("spark.sql.catalog.propcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.propcat.root", r)
    spark.sql(
      "ALTER TABLE propcat.t SET TBLPROPERTIES ('owner.team'='graft', 'tier'='gold')")
    def props(): Map[String, String] = spark.sql("SHOW TBLPROPERTIES propcat.t")
      .collect().map(row => row.getString(0) -> row.getString(1)).toMap
    assert(props().get("owner.team").contains("graft"))
    assert(props().get("tier").contains("gold"))
    // inherits across appends; a later SET overrides (chain semantics)
    st.append("t", Seq((2L, "b")).toDF("id", "s"))
    assert(props().get("tier").contains("gold"))
    spark.sql("ALTER TABLE propcat.t SET TBLPROPERTIES ('tier'='silver')")
    assert(props().get("tier").contains("silver"))
    // data-less and feed-neutral
    assert(st.read("t").count() == 2)
    assert(st.nonFeedMutationsSince("t", 1L).isEmpty,
      "a set-properties link must not blind the change feed")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // the store's own protocol keys are not writable
    val res = intercept[Exception](spark.sql(
      "ALTER TABLE propcat.t SET TBLPROPERTIES ('graft.bucket.col'='id')"))
    assert(messages(res).exists(_.contains("reserved")), res.toString)
    // properties SURVIVE a self-contained rewrite (Delta semantics: an
    // INSERT OVERWRITE replaces data, not table metadata)
    spark.sql("INSERT OVERWRITE propcat.t VALUES (9, 'z')")
    assert(props().get("tier").contains("silver"),
      "user props must carry across base=None rewrites")
    assert(props().get("owner.team").contains("graft"))
    // UNSET: a data-less tombstone link — the key stops SHOWing, stays
    // forgotten across appends, and a later SET brings it back
    spark.sql("ALTER TABLE propcat.t UNSET TBLPROPERTIES ('tier')")
    assert(!props().contains("tier"), props().toString)
    st.append("t", Seq((3L, "c")).toDF("id", "s"))
    assert(!props().contains("tier"), "tombstone must hold across appends")
    assert(props().get("owner.team").contains("graft"),
      "unset of one key must not disturb others")
    spark.sql("ALTER TABLE propcat.t SET TBLPROPERTIES ('tier'='bronze')")
    assert(props().get("tier").contains("bronze"))
    // a tombstoned key also stays forgotten across an overwrite
    spark.sql("ALTER TABLE propcat.t UNSET TBLPROPERTIES ('tier')")
    spark.sql("INSERT OVERWRITE propcat.t VALUES (10, 'y')")
    assert(!props().contains("tier"))
    // SQL UNSET is lenient about missing keys (Spark semantics); the
    // store's direct form is strict unless ifExists
    spark.sql("ALTER TABLE propcat.t UNSET TBLPROPERTIES ('nope')")
    val strict = intercept[Exception](
      st.unsetTableProperties("t", Seq("nope")))
    assert(messages(strict).exists(_.contains("no such")), strict.toString)
    assert(st.unsetTableProperties("t", Seq("nope"), ifExists = true) ==
      st.latestVersion("t").get)
    // reserved keys refuse through UNSET like SET
    val resU = intercept[Exception](
      st.unsetTableProperties("t", Seq("graft.bucket.col")))
    assert(messages(resU).exists(_.contains("reserved")), resU.toString)
    // SET of an empty value refuses — empty IS the tombstone encoding
    val emp = intercept[Exception](
      st.setTableProperties("t", Map("tier" -> "")))
    assert(messages(emp).exists(_.contains("tombstone")), emp.toString)
  }

  test("informational PK/FK/UNIQUE: NOT ENFORCED metadata round-trips; ENFORCED refuses") {
    val r = java.nio.file.Files.createTempDirectory("graft-keycons").toString
    val st = new SnapshotStore(spark, r)
    st.commit("o", Seq((1L, 10L, "a")).toDF("o_id", "cust_id", "s"))
    st.commit("c", Seq((10L, "x")).toDF("c_id", "name"))
    spark.conf.set("spark.sql.catalog.keycat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.keycat.root", r)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    spark.sql("ALTER TABLE keycat.o ADD CONSTRAINT o_pk PRIMARY KEY (o_id) RELY")
    spark.sql("ALTER TABLE keycat.o ADD CONSTRAINT o_cust_fk FOREIGN KEY " +
      "(cust_id) REFERENCES keycat.c (c_id)")
    spark.sql("ALTER TABLE keycat.c ADD CONSTRAINT c_uq UNIQUE (c_id)")
    val kcs = st.keyConstraintsOf("o", st.latestVersion("o").get)
    assert(kcs("o_pk").kind == "primary" && kcs("o_pk").columns == Seq("o_id")
      && kcs("o_pk").rely, kcs.toString)
    assert(kcs("o_cust_fk").kind == "foreign" &&
      kcs("o_cust_fk").refTable.contains("c") &&
      kcs("o_cust_fk").refColumns == Seq("c_id"), kcs.toString)
    // surfaced through Table.constraints() as NOT ENFORCED metadata
    val cat = spark.sessionState.catalogManager.catalog("keycat")
      .asInstanceOf[GraftCatalog]
    val cons = cat.loadTable(org.apache.spark.sql.connector.catalog
      .Identifier.of(Array.empty, "o")).constraints()
    val pk = cons.find(_.name() == "o_pk").get
    assert(!pk.enforced() && pk.rely(), pk.toDDL())
    assert(cons.exists(_.name() == "o_cust_fk"), cons.map(_.name()).toSeq)
    // the metadata survives appends AND self-contained rewrites
    st.append("o", Seq((2L, 10L, "b")).toDF("o_id", "cust_id", "s"))
    spark.sql("INSERT OVERWRITE keycat.o VALUES (3, 10, 'c')")
    assert(st.keyConstraintsOf("o", st.latestVersion("o").get)
      .keySet == Set("o_pk", "o_cust_fk"))
    // a keyed column cannot be dropped or renamed from under the claim
    val dc = intercept[Exception](st.dropColumns("o", Seq("cust_id")))
    assert(messages(dc).exists(_.contains("o_cust_fk")), dc.toString)
    val rn = intercept[Exception](st.renameColumns("o", Map("o_id" -> "id")))
    assert(messages(rn).exists(_.contains("o_pk")), rn.toString)
    // DROP CONSTRAINT routes to the key namespace and frees the column
    spark.sql("ALTER TABLE keycat.o DROP CONSTRAINT o_cust_fk")
    assert(st.keyConstraintsOf("o", st.latestVersion("o").get)
      .keySet == Set("o_pk"))
    st.dropColumns("o", Seq("cust_id"))
    // name collisions refuse across BOTH constraint namespaces
    val dup = intercept[Exception](
      st.addCheckConstraint("o", "o_pk", "o_id > 0"))
    assert(messages(dup).exists(_.contains("already exists")), dup.toString)
    // ENFORCED key constraints refuse loudly — no index to back them
    val enf = intercept[Exception](spark.sql(
      "ALTER TABLE keycat.c ADD CONSTRAINT c_pk PRIMARY KEY (c_id) ENFORCED"))
    assert(messages(enf).exists(m => m.contains("ENFORCED") ||
      m.contains("enforced")), enf.toString)
  }

  test("CREATE TABLE with a failing constraint rolls back — never half-created") {
    val r = java.nio.file.Files.createTempDirectory("graft-atomic").toString
    spark.conf.set("spark.sql.catalog.atomcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.atomcat.root", r)
    val st = new SnapshotStore(spark, r)
    // an ENFORCED key constraint refuses AFTER the table commit inside
    // createTable(info) — the refusal must take the CREATE down with it
    intercept[Exception](spark.sql(
      "CREATE TABLE atomcat.t (id BIGINT, CONSTRAINT p PRIMARY KEY (id) ENFORCED)"))
    assert(st.latestVersion("t").isEmpty,
      "failed CREATE must not leave a half-created table")
    assert(spark.sql("SHOW TABLES IN atomcat").count() == 0)
    // and the rolled-back name is immediately reusable
    spark.sql("CREATE TABLE atomcat.t (id BIGINT, " +
      "CONSTRAINT p PRIMARY KEY (id) NOT ENFORCED, " +
      "CONSTRAINT pos CHECK (id > 0))")
    assert(st.latestVersion("t").isDefined)
    assert(st.keyConstraintsOf("t", st.latestVersion("t").get).contains("p"))
    assert(st.checkConstraintsOf("t", st.latestVersion("t").get).contains("pos"))
  }

  test("CREATE / INSERT / OVERWRITE / CTAS / DROP TABLE route through store commits") {
    val r = java.nio.file.Files.createTempDirectory("graft-ddl").toString
    spark.conf.set("spark.sql.catalog.ddlcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ddlcat.root", r)
    val st = new SnapshotStore(spark, r)
    // CREATE: version 1 is an empty snapshot carrying the schema
    spark.sql("CREATE TABLE ddlcat.t (id BIGINT, s STRING)")
    assert(spark.sql("SELECT * FROM ddlcat.t").columns.toSeq == Seq("id", "s"))
    assert(spark.sql("SELECT * FROM ddlcat.t").count() == 0)
    // INSERT INTO = the store's OCC append (a chain link, feed-visible)
    spark.sql("INSERT INTO ddlcat.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO ddlcat.t SELECT 3 AS id, 'c' AS s")
    Seq((4L, "d")).toDF("id", "s").writeTo("ddlcat.t").append()
    assert(spark.sql("SELECT id FROM ddlcat.t").as[Long].collect().toSet
      == Set(1L, 2L, 3L, 4L))
    assert(st.changesAt("t", st.latestVersion("t").get)
      .exists(_.count() == 1), "an insert records its change set for the feeds")
    // INSERT OVERWRITE = self-contained rewrite; history stays readable
    val preOverwrite = st.latestVersion("t").get
    spark.sql("INSERT OVERWRITE ddlcat.t VALUES (9, 'z')")
    assert(spark.sql("SELECT id FROM ddlcat.t").as[Long].collect().toSeq
      == Seq(9L))
    assert(spark.sql(
      s"SELECT id FROM ddlcat.t VERSION AS OF $preOverwrite")
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // CTAS
    spark.sql("CREATE TABLE ddlcat.t2 AS SELECT id * 10 AS id10, s FROM ddlcat.t")
    assert(spark.sql("SELECT id10, s FROM ddlcat.t2").as[(Long, String)]
      .collect().toSeq == Seq((90L, "z")))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // CREATE of an existing table refuses
    val dup = intercept[Exception](
      spark.sql("CREATE TABLE ddlcat.t (x INT)"))
    assert(messages(dup).exists(_.toLowerCase.contains("already exists")),
      dup.toString)
    // partition/bucket transforms refuse with the commitBucketed pointer
    val part = intercept[Exception](
      spark.sql("CREATE TABLE ddlcat.t3 (id BIGINT) PARTITIONED BY (bucket(4, id))"))
    assert(messages(part).exists(_.contains("commitBucketed")), part.toString)
    // DROP TABLE deletes the tree and purges memos: a re-created table
    // with a new schema must not read the old one's cached schema
    spark.sql("DROP TABLE ddlcat.t2")
    assert(!spark.sql("SHOW TABLES IN ddlcat").select("tableName")
      .as[String].collect().contains("t2"))
    spark.sql("CREATE TABLE ddlcat.t2 (other DOUBLE)")
    assert(spark.sql("SELECT * FROM ddlcat.t2").columns.toSeq == Seq("other"))
    // table RENAME keeps the refusal
    val ren = intercept[Exception](
      spark.sql("ALTER TABLE ddlcat.t RENAME TO renamed"))
    assert(messages(ren).exists(_.contains("does not support")), ren.toString)
    // CREATE OR REPLACE: drop + create through the same catalog hooks
    spark.sql(
      "CREATE OR REPLACE TABLE ddlcat.t2 AS SELECT CAST(5.0 AS DOUBLE) AS other2")
    assert(spark.sql("SELECT * FROM ddlcat.t2").columns.toSeq == Seq("other2"))
    assert(spark.sql("SELECT other2 FROM ddlcat.t2").as[Double]
      .collect().toSeq == Seq(5.0))
  }

  test("ANSI DELETE FROM routes through the store's tombstone delete") {
    // Own root: the shared fixture's tables stay untouched for the other
    // cases. DELETE commits a NEW version (O(matched files) tombstones),
    // never mutates the read-only version directories — so time travel to
    // the pre-delete version still works through the same catalog.
    val r = java.nio.file.Files.createTempDirectory("graft-cat-del").toString
    val st = new SnapshotStore(spark, r)
    st.commitClustered("t",
      spark.range(0, 100).selectExpr("id", "cast(id % 3 as string) as tag"),
      clusterBy = Seq("id"), targetPartitions = 4)
    spark.conf.set("spark.sql.catalog.kgdel", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.kgdel.root", r)
    spark.sql("DELETE FROM kgdel.t WHERE id >= 40 AND id < 60")
    assert(spark.sql("SELECT count(*) FROM kgdel.t").head().getLong(0) == 80L)
    assert(spark.sql("SELECT count(*) FROM kgdel.t VERSION AS OF 1")
      .head().getLong(0) == 100L)
    // compound + IN + string predicates translate too
    spark.sql("DELETE FROM kgdel.t WHERE tag IN ('2') OR id = 0")
    assert(spark.sql("SELECT count(*) FROM kgdel.t").head().getLong(0) ==
      (1L until 100L).filterNot(i => i >= 40 && i < 60).count(_ % 3 != 2))
    assert(st.removedAt("t", st.latestVersion("t").get).nonEmpty)
    // untranslatable predicate: refused at analysis, nothing deleted
    val before = spark.sql("SELECT count(*) FROM kgdel.t").head().getLong(0)
    val err = intercept[Exception](
      spark.sql("DELETE FROM kgdel.t WHERE id % 7 = 0"))
    assert(err.getMessage != null)
    assert(spark.sql("SELECT count(*) FROM kgdel.t").head().getLong(0) == before)
    // TRUNCATE TABLE rides the same machinery (TruncatableTable default =
    // delete everything) — schema and history survive, rows go
    spark.sql("TRUNCATE TABLE kgdel.t")
    assert(spark.sql("SELECT count(*) FROM kgdel.t").head().getLong(0) == 0L)
    assert(spark.sql("SELECT * FROM kgdel.t").columns.toSeq == Seq("id", "tag"))
    assert(spark.sql("SELECT count(*) FROM kgdel.t VERSION AS OF 1")
      .head().getLong(0) == 100L)
  }

  test("ANSI UPDATE routes through the store's copy-on-write/DV update") {
    // UPDATE <cat>.<t> SET … WHERE … — planned by GraftUpdateStrategy
    // straight onto SnapshotStore.update: same O(matched files) rewrite /
    // deletion-vector policy, CAS commit, and pre/post-image change feed
    // as the Scala API; time travel to the pre-update version intact.
    val r = java.nio.file.Files.createTempDirectory("graft-cat-upd").toString
    val st = new SnapshotStore(spark, r)
    st.commitClustered("t",
      spark.range(0, 100).selectExpr("id", "cast(id as double) as v",
        "cast(id % 3 as string) as tag"),
      clusterBy = Seq("id"), targetPartitions = 4)
    spark.conf.set("spark.sql.catalog.kgupd", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.kgupd.root", r)
    graft.GraftExtensions.register(spark)
    spark.sql("UPDATE kgupd.t SET v = v * 2, tag = 'updated' WHERE tag = '1'")
    val now = spark.sql("SELECT id, v, tag FROM kgupd.t")
      .as[(Long, Double, String)].collect()
      .map { case (i, vv, tg) => i -> ((vv, tg)) }.toMap
    for (i <- 0L until 100L) {
      val (vv, tg) = now(i)
      if (i % 3 == 1) assert(vv == i * 2.0 && tg == "updated", s"id $i")
      else assert(vv == i.toDouble && tg == (i % 3).toString, s"id $i")
    }
    // the mutation went through the store: new version, feed images there
    val uv = st.latestVersion("t").get
    assert(uv == 2L)
    assert(st.changesAt("t", uv).get.count() == (0L until 100L).count(_ % 3 == 1))
    assert(spark.sql("SELECT count(*) FROM kgupd.t VERSION AS OF 1 WHERE tag = 'updated'")
      .head().getLong(0) == 0L)
    // UPDATE without WHERE hits every row
    spark.sql("UPDATE kgupd.t SET v = 0.5")
    assert(spark.sql("SELECT sum(v) FROM kgupd.t").head().getDouble(0) == 50.0)
    // a lossy assignment is refused loudly — either by Spark's own ANSI
    // analysis of the UPDATE (CAST_INVALID_INPUT on the malformed literal)
    // or by the store's up-cast gate ("lossy"); silence is the only bug
    val err = intercept[Exception](
      spark.sql("UPDATE kgupd.t SET v = 'not a number'"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(err).exists(m =>
      m.contains("lossy") || m.contains("cannot be cast")), err.toString)
    assert(spark.sql("SELECT sum(v) FROM kgupd.t").head().getDouble(0) == 50.0,
      "refused update must not have mutated anything")
  }

  test("ANSI MERGE INTO routes through the store's atomic upsert") {
    // MERGE INTO <cat>.<t> USING <source> ON ... WHEN MATCHED THEN UPDATE
    // SET ... WHEN NOT MATCHED THEN INSERT * — planned by
    // GraftMergeStrategy onto SnapshotStore.merge: one commit carries the
    // matched-file rewrite, the inserts, and the change images.
    val r = java.nio.file.Files.createTempDirectory("graft-cat-mrg").toString
    val st = new SnapshotStore(spark, r)
    st.commitClustered("t",
      spark.range(0, 100).selectExpr("id", "cast(id as double) as v"),
      clusterBy = Seq("id"), targetPartitions = 4)
    spark.conf.set("spark.sql.catalog.kgmrg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.kgmrg.root", r)
    graft.GraftExtensions.register(spark)
    Seq((10L, -1.0), (200L, 5.0)).toDF("id", "v")
      .createOrReplaceTempView("mrg_src")
    spark.sql("""MERGE INTO kgmrg.t AS t USING mrg_src AS s ON t.id = s.id
                 WHEN MATCHED THEN UPDATE SET v = s.v + 1000
                 WHEN NOT MATCHED THEN INSERT *""")
    val now = spark.sql("SELECT id, v FROM kgmrg.t")
      .as[(Long, Double)].collect().toMap
    assert(now.size == 101)
    assert(now(10L) == 999.0, "matched row updated from source expression")
    assert(now(200L) == 5.0, "not-matched row inserted")
    assert(now(11L) == 11.0, "unmatched rows untouched")
    // one commit, with change images — exactly the store-merge contract.
    // The single matched row is 4% of its 25-row file, under the sparse
    // threshold: the old row dies by deletion vector, no tombstone.
    val mv = st.latestVersion("t").get
    assert(mv == 2L)
    assert(st.removedAt("t", mv).isEmpty && st.dvAt("t", mv).nonEmpty,
      "sparse matched row must vector, not rewrite")
    assert(spark.sql("SELECT count(*) FROM kgmrg.t VERSION AS OF 1")
      .head().getLong(0) == 100L)
    // WHEN MATCHED THEN DELETE
    Seq(Tuple1(200L)).toDF("id").createOrReplaceTempView("mrg_del")
    spark.sql("""MERGE INTO kgmrg.t AS t USING mrg_del AS s ON t.id = s.id
                 WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT count(*) FROM kgmrg.t").head().getLong(0) == 100L)
    // a source with a richer shape (subquery) re-plans through the bridge
    spark.sql("""MERGE INTO kgmrg.t AS t
                 USING (SELECT id + 300 AS id, v FROM mrg_src) AS s
                 ON t.id = s.id
                 WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT count(*) FROM kgmrg.t").head().getLong(0) == 102L)
    assert(spark.sql("SELECT v FROM kgmrg.t WHERE id = 310").head().getDouble(0)
      == -1.0)
  }

  test("a version-pinned resolution refuses DELETE (head-mutation mismatch)") {
    // A table addressed with explicit time travel names a HISTORICAL
    // snapshot; a delete necessarily mutates the CURRENT head. Honoring
    // it would delete against a state the user never addressed —
    // canDeleteWhere must be false so Spark raises its standard analysis
    // error instead, and a direct deleteWhere call fails loudly.
    val r = java.nio.file.Files.createTempDirectory("graft-cat-pin").toString
    val st = new SnapshotStore(spark, r)
    st.commit("t", Seq((1L, "a")).toDF("id", "s"))
    st.commit("t", Seq((2L, "b")).toDF("id", "s"))
    val pinned = graft.sources.GraftTable.forSnapshot(spark, st, "t", Some(1L))
    val all = Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("id", 1L))
    assert(!pinned.canDeleteWhere(all), "time-travel-pinned table must refuse")
    intercept[IllegalArgumentException](pinned.deleteWhere(all))
    // the unpinned resolution of the same table still deletes fine
    val head = graft.sources.GraftTable.forSnapshot(spark, st, "t", None)
    assert(head.canDeleteWhere(all))
    head.deleteWhere(all)
    assert(st.read("t").select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("unknown table resolves to a clean analysis error") {
    root
    val e = intercept[Exception](spark.sql("SELECT * FROM kgcat.nope"))
    assert(e.getMessage.contains("nope"), e.toString)
  }

  test("maintenance TVFs: vacuum/compact/adopt run the full lifecycle through SQL") {
    import org.apache.spark.sql.functions.col
    graft.GraftExtensions.register(spark)
    val r = java.nio.file.Files.createTempDirectory("graft-maint-tvf").toString
    val st = new graft.core.SnapshotStore(spark, r)
    st.commit("m", spark.range(0, 100).select(col("id").as("k")))
    st.append("m", spark.range(100, 200).select(col("id").as("k")))
    st.append("m", spark.range(200, 300).select(col("id").as("k")))

    // compact through SQL: one new version, values intact
    val cv = spark.sql(s"SELECT * FROM graft_compact('$r', 'm')")
      .head().getLong(0)
    assert(cv == 4L, s"compact commits the next version, got $cv")
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$r', 'm')")
      .head().getLong(0) == 300L)

    // adopt field IDs through SQL: fresh commits are already ID'd, so
    // the call is the documented idempotent no-op (current head returns;
    // the REWRITE path is pinned in SnapshotStoreSpec's legacy fixtures)
    val av = spark.sql(s"SELECT * FROM graft_adopt_field_ids('$r', 'm')")
      .head().getLong(0)
    assert(av == cv, s"already-ID'd chain is a no-op at the head: $av")

    // vacuum through SQL: retention drops pre-compact history and the
    // HORIZON GUARD then fires through SQL — a feed subscribed below the
    // horizon refuses loudly, and the bootstrap face catches up instead
    val row = spark.sql(s"SELECT * FROM graft_vacuum('$r', 'm', 1)").head()
    assert(row.getLong(0) == 3L,
      s"horizon = highest reclaimed version (v4 survives): ${row.getLong(0)}")
    assert(row.getLong(1) >= 1L)
    val refused = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_change_feed('$r', 'm', 1)").collect())
    assert(refused.getMessage.toLowerCase.contains("vacuum") ||
      refused.getMessage.toLowerCase.contains("bootstrap"),
      s"below-horizon feed must refuse with the guard's message: " +
        refused.getMessage)
    assert(spark.sql(s"SELECT count(*) FROM graft_feed_bootstrap('$r', 'm')")
      .head().getLong(0) == 300L,
      "bootstrap serves the oldest retained snapshot as insert images")

    // time-based retention face parses and keeps the newest version
    val vo = spark.sql(
      s"SELECT * FROM graft_vacuum_older_than('$r', 'm', 0)").head()
    assert(vo.getLong(1) >= 1L)
  }

  test("graft_table_stats surfaces exactly what CBO sees, per column") {
    import org.apache.spark.sql.functions.col
    graft.GraftExtensions.register(spark)
    val r = java.nio.file.Files.createTempDirectory("graft-stats-tvf").toString
    val st = new graft.core.SnapshotStore(spark, r)
    st.commit("s", spark.range(0, 5000)
      .select(col("id").as("k"), (col("id") % 40).as("c")))
    val rows = spark.sql(s"SELECT * FROM graft_table_stats('$r', 's')")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(rows.keySet == Set("k", "c"))
    val k = rows("k"); val c = rows("c")
    assert(k.getString(1) == "bigint")
    assert(!k.isNullAt(2) && k.getLong(2) > 4500 && k.getLong(2) < 5500,
      s"k NDV ~5000: ${k.getLong(2)}")
    assert(k.getString(3) == "0" && k.getString(4) == "4999",
      s"k bounds: ${k.getString(3)}..${k.getString(4)}")
    assert(k.getLong(5) == 0L, "no nulls")
    assert(!k.isNullAt(6) && k.getLong(6) > 0L,
      "numeric column on a single-link chain reports histogram bins")
    assert(k.getLong(7) == 5000L, "table rows")
    assert(!c.isNullAt(2) && c.getLong(2) >= 38 && c.getLong(2) <= 42,
      s"c NDV ~40: ${c.getLong(2)}")
    // date/timestamp bounds render as readable externals, not raw epochs
    st.commit("ts", spark.sql(
      "SELECT timestamp'2024-03-05 00:00:00Z' AS t, date'2024-03-05' AS d"))
    val tsRows = spark.sql(s"SELECT * FROM graft_table_stats('$r', 'ts')")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(tsRows("t").getString(3).startsWith("2024-03-05"),
      s"timestamp min renders readable: ${tsRows("t").getString(3)}")
    assert(tsRows("d").getString(3) == "2024-03-05",
      s"date min renders readable: ${tsRows("d").getString(3)}")
  }

  test("maintenance TVFs defer the side effect to execution: EXPLAIN never vacuums") {
    import org.apache.spark.sql.functions.col
    graft.GraftExtensions.register(spark)
    val r = java.nio.file.Files.createTempDirectory("graft-defer-tvf").toString
    val st = new graft.core.SnapshotStore(spark, r)
    // SELF-CONTAINED commits (appends would chain to v1/v2, whose chain
    // closure vacuum rightly keeps — nothing would be reclaimable and
    // the EXPLAIN assertions would pass vacuously)
    st.commit("m", spark.range(0, 100).select(col("id").as("k")))
    st.commit("m", spark.range(0, 200).select(col("id").as("k")))
    st.commit("m", spark.range(0, 300).select(col("id").as("k")))
    assert(st.history("m").size == 3)

    // EXPLAIN resolves + plans the TVF — the irreversible action must NOT
    // fire (this was the r17 hazard: the builder ran vacuum at analysis)
    spark.sql(s"EXPLAIN SELECT * FROM graft_vacuum('$r', 'm', 1)").collect()
    assert(st.history("m").size == 3,
      "EXPLAIN on graft_vacuum must not reclaim versions")
    spark.sql(s"EXPLAIN SELECT * FROM graft_compact('$r', 'm')").collect()
    assert(st.latestVersion("m").contains(3L),
      "EXPLAIN on graft_compact must not commit")

    // analysis alone (building the DataFrame, no action) is equally safe,
    // but argument errors still surface there, where SQL users expect them
    val pending = spark.sql(s"SELECT * FROM graft_vacuum('$r', 'm', 1)")
    assert(st.history("m").size == 3, "analysis must not vacuum")
    intercept[Exception](spark.sql(s"SELECT * FROM graft_vacuum('$r')"))

    // execution fires it, and the returned row reports the post-state
    val row = pending.head()
    assert(st.history("m").size == 1, "executing the TVF vacuums")
    assert(row.getLong(0) == 2L && row.getLong(1) == 1L,
      s"horizon/retained from the executed action: $row")
  }

  test("graft_refresh_adjacency: SQL-first view maintenance, deferred to execution") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val r = java.nio.file.Files.createTempDirectory("graft-adjtvf").toString
    val st = new graft.core.SnapshotStore(spark, r)
    st.commit("edges", Seq(("a", "b"), ("b", "c")).toDF("src", "dst"))

    // EXPLAIN resolves + plans — the view commit must NOT fire
    spark.sql(
      s"EXPLAIN SELECT * FROM graft_refresh_adjacency('$r', 'edges', 'adj', 4)")
      .collect()
    assert(st.latestVersion("adj").isEmpty,
      "EXPLAIN on graft_refresh_adjacency must not commit the view")

    // execution builds the view and reports (version, horizon)
    val row1 = spark.sql(
      s"SELECT * FROM graft_refresh_adjacency('$r', 'edges', 'adj', 4)").head()
    assert(row1.getLong(1) == st.latestVersion("edges").get,
      "horizon reports the folded edges head")
    assert(st.bucketLayoutOf("adj", row1.getLong(0))
      .contains((Seq("node"), Seq(4))))

    // an appended batch advances the view incrementally through SQL
    st.append("edges", Seq(("c", "d")).toDF("src", "dst"))
    val row2 = spark.sql(
      s"SELECT * FROM graft_refresh_adjacency('$r', 'edges', 'adj', 4)").head()
    assert(row2.getLong(0) != row1.getLong(0) &&
      row2.getLong(1) == st.latestVersion("edges").get)
    val degrees = st.read("adj").groupBy(col("node"))
      .agg(org.apache.spark.sql.functions.sum(col("o")).as("o"),
        org.apache.spark.sql.functions.sum(col("i")).as("i"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(degrees == Set(("a", 1L, 0L), ("b", 1L, 1L), ("c", 1L, 1L),
      ("d", 0L, 1L)), s"SQL-maintained view is exact: $degrees")
  }
}
