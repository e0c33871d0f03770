package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.{col, lit, sum}
import graft.core.SnapshotStore

/** Snapshot-isolation contract of the versioned table store (M8): commits
  * create immutable versions, readers pin the version they resolved, time
  * travel reads any kept version, vacuum retains the latest. */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  def freshStore(): SnapshotStore = new SnapshotStore(spark,
    java.nio.file.Files.createTempDirectory("graft-snap").toString)

  test("commit bumps the version; read sees the latest; readAt time-travels") {
    val st = freshStore()
    assert(st.latestVersion("t").isEmpty)
    assert(st.commit("t", Seq(1, 2).toDF("x")) == 1L)
    assert(st.commit("t", Seq(3).toDF("x")) == 2L)
    assert(st.read("t").as[Int].collect().toSet == Set(3))
    assert(st.readAt("t", 1).as[Int].collect().toSet == Set(1, 2))
    assert(st.history("t") == Seq(1L, 2L))
  }

  test("a pinned reader is unaffected by a later commit (snapshot isolation)") {
    val st = freshStore()
    st.commit("t", Seq("a", "b").toDF("s"))
    val pinned = st.read("t") // resolves the pointer NOW
    st.commit("t", Seq("c").toDF("s"))
    assert(pinned.as[String].collect().toSet == Set("a", "b"))
    assert(st.read("t").as[String].collect().toSet == Set("c"))
  }

  test("append unions with the current snapshot as a new version") {
    val st = freshStore()
    st.append("t", Seq(1).toDF("x"))
    st.append("t", Seq(2).toDF("x"))
    assert(st.read("t").as[Int].collect().toSet == Set(1, 2))
    assert(st.history("t") == Seq(1L, 2L))
  }

  test("vacuum keeps the newest versions and their data") {
    val st = freshStore()
    (1 to 4).foreach(i => st.commit("t", Seq(i).toDF("x")))
    st.vacuum("t", keepLast = 2)
    assert(st.history("t") == Seq(3L, 4L))
    assert(st.read("t").as[Int].collect().toSet == Set(4))
    assert(st.readAt("t", 3).as[Int].collect().toSet == Set(3))
  }

  test("concurrent committers on one root never clobber each other") {
    // Two INDEPENDENT store instances (the cross-writer case the instance
    // lock can't cover): version allocation via atomic createDirectory must
    // give every commit its own directory, and the pointer must end at the
    // maximum committed version.
    val root = java.nio.file.Files.createTempDirectory("graft-race").toString
    val stores = Seq(new SnapshotStore(spark, root), new SnapshotStore(spark, root))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = stores.zipWithIndex.map { case (st, w) =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] =
            (1 to 4).map(i => st.commit("t", Seq(w * 100 + i).toDF("x")))
        })
      }
      val versions = futures.flatMap(_.get())
      // every commit got a distinct version — nothing was overwritten
      assert(versions.distinct.size == 8)
      assert(st0Readable(stores.head, versions))
      assert(stores.head.latestVersion("t").contains(versions.max))
    } finally pool.shutdown()
  }

  private def st0Readable(st: SnapshotStore, versions: Seq[Long]): Boolean =
    versions.forall(v => st.readAt("t", v).count() == 1)

  test("racing appenders: OCC commit keeps every row exactly once") {
    // Two INDEPENDENT store instances simulate two JVMs: each round both
    // resolve the SAME base (appendFrom pins it — the worst-case
    // interleaving version allocation alone cannot fix), then race the
    // write + CAS concurrently. One must win the pointer move; the loser
    // must re-base its chain link onto the winner's head. After 50 raced
    // rounds the final chain must hold all 100 rows exactly once — the
    // old locked-in-JVM append lost the loser's batch whenever the racers
    // were in different processes.
    val root = java.nio.file.Files.createTempDirectory("graft-occ").toString
    val stores = Seq(new SnapshotStore(spark, root), new SnapshotStore(spark, root))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (round <- 0 until 50) {
        val base = stores.head.latestVersion("t")
        val futures = stores.zipWithIndex.map { case (st, w) =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long =
              st.appendFrom("t", Seq(round * 2 + w).toDF("x"), base)
          })
        }
        futures.foreach(_.get())
      }
      val rows = stores.head.read("t").as[Int].collect().toSeq
      assert(rows.sorted == (0 until 100).toSeq, "every row exactly once")
      // and the chain is well-formed: history strictly ascending, head
      // readable at every committed version
      val hist = stores.head.history("t")
      assert(hist == hist.sorted && hist.distinct == hist)
    } finally pool.shutdown()
  }

  test("a stale-based append relinks instead of losing the sibling's batch") {
    // Deterministic single-threaded version of the race: B resolves its
    // base BEFORE A commits, then appends — the CAS must fail once and
    // the relink must graft B's delta on top of A's.
    val st = freshStore()
    st.append("t", Seq(0).toDF("x"))
    val stale = st.latestVersion("t")
    val a = st.appendFrom("t", Seq(1).toDF("x"), stale)
    val b = st.appendFrom("t", Seq(2).toDF("x"), stale) // stale base: relink
    assert(b > a)
    assert(st.latestVersion("t").contains(b))
    assert(st.read("t").as[Int].collect().sorted.toSeq == Seq(0, 1, 2))
    // the relinked version is a chain link over A's head
    assert(st.baseOf("t", b).contains(a))
  }

  test("relink re-checks retypes against the re-based head") {
    // A and B both add NEW column y from the same stale base — A wins with
    // y:int, B's y:string delta becomes a retype against the re-based
    // head and must fail loudly (and clean up), not silently commit a
    // chain whose pinned schema can't read its own files.
    val st = freshStore()
    st.append("t", Seq(Tuple1(0)).toDF("x"))
    val stale = st.latestVersion("t")
    st.appendFrom("t", Seq((1, 7)).toDF("x", "y"), stale)
    val before = st.latestVersion("t").get
    intercept[IllegalArgumentException] {
      st.appendFrom("t", Seq((2, "s")).toDF("x", "y"), stale)
    }
    assert(st.latestVersion("t").contains(before), "pointer unmoved")
    assert(st.read("t").columns.toSeq == Seq("x", "y"))
    assert(st.read("t").count() == 2)
  }

  test("relink re-validates CHECK constraints added since the write-time base") {
    // The r14 advice hole: commitWith validates a delta against the
    // constraint set of the base resolved AT WRITE TIME; an append racing
    // a concurrent addCheckConstraint relinks onto the new head and —
    // without re-validation — would commit violating rows into a table
    // whose constraints() reports them ENFORCED+VALID.
    val st = freshStore()
    st.commit("t", Seq((1L, 5)).toDF("id", "qty"))
    val stale = st.latestVersion("t")
    st.addCheckConstraint("t", "qty_pos", "qty > 0") // pointer moves
    val before = st.latestVersion("t").get
    val bad = intercept[IllegalArgumentException] {
      st.appendFrom("t", Seq((2L, -3)).toDF("id", "qty"), stale)
    }
    assert(bad.getMessage.contains("qty_pos"), bad.getMessage)
    assert(st.latestVersion("t").contains(before), "pointer unmoved")
    assert(st.read("t").count() == 1, "violating delta never exposed")
    // a SATISFYING delta from the same stale base relinks and commits
    st.appendFrom("t", Seq((3L, 4)).toDF("id", "qty"), stale)
    assert(st.read("t").count() == 2)
    // and the discarded candidate left no orphan directory
    assert(st.history("t").forall(v => st.readAt("t", v).count() >= 0))
  }

  test("relink refuses a delta racing a rename rewrite that removed its columns") {
    // Without the guard, mergedAppendSchema treats the delta's old-named
    // column as a schema-widening ADD: its values land in a resurrected
    // old-name column while the renamed column reads NULL for those rows
    // — silent data mangling instead of a conflict.
    val st = freshStore()
    st.commit("t", Seq((1L, "a")).toDF("id", "s"))
    val stale = st.latestVersion("t")
    st.renameColumns("t", Map("s" -> "txt"))
    val before = st.latestVersion("t").get
    val bad = intercept[IllegalStateException] {
      st.appendFrom("t", Seq((2L, "b")).toDF("id", "s"), stale)
    }
    assert(bad.getMessage.contains("raced a schema rewrite"), bad.getMessage)
    assert(st.latestVersion("t").contains(before), "pointer unmoved")
    assert(st.read("t").columns.toSeq == Seq("id", "txt"))
    assert(st.read("t").count() == 1, "mangled delta never exposed")
    // a delta already in the NEW schema relinks fine from the stale base
    st.appendFrom("t", Seq((3L, "c")).toDF("id", "txt"), stale)
    assert(st.read("t").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (3L, "c")))
  }

  test("CTAS projecting one column twice never commits duplicate field IDs") {
    // Spark's Alias propagates field metadata, so `SELECT v AS x, v AS y`
    // over a graft read arrives with the SAME parquet.field.id on both
    // columns — committing it verbatim would cross-wire every subsequent
    // ID-matched read of the new table. withFieldIds must keep the first
    // occurrence and mint a fresh ID for the repeat.
    val st = freshStore()
    st.commit("a", Seq((1L, "hi")).toDF("k", "v"))
    st.commit("b", st.read("a").select(
      col("v").as("x"), col("v").as("y"), col("k")))
    val ids = st.snapshotSchema("b").fields.toSeq
      .map(_.metadata.getLong(SnapshotStore.FieldIdKey))
    assert(ids.distinct.size == ids.size, s"duplicate field IDs: $ids")
    // ID-matched reads resolve both twins to the source values
    assert(st.read("b").select("x", "y", "k").as[(String, String, Long)]
      .head() == (("hi", "hi", 1L)))
    // and the deduped chain still supports the metadata-only rename
    st.renameColumns("b", Map("y" -> "z"))
    assert(st.read("b").select("z").as[String].head() == "hi")
  }

  test("TIMESTAMP AS OF resolves non-monotonic stamps by max committed version") {
    // Two committed versions CAN carry inverted stamps: a committed-but-
    // superseded bare commit is stamped after the head that overtook it,
    // and legacy-migration mtime stamps carry no ordering. A prefix scan
    // (the old takeWhile) stops at the inversion and permanently resolves
    // a window of timestamps to a version older than what readers saw.
    val st = freshStore()
    val root = st.root
    st.commit("t", Seq(1).toDF("x"))
    st.commit("t", Seq(2).toDF("x"))
    st.commit("t", Seq(3).toDF("x"))
    def stamp(v: Long, ts: Long): Unit = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "t", s"v=$v", "_committed"), ts.toString)
    stamp(1L, 1000L); stamp(2L, 3000L); stamp(3L, 2000L) // inverted 2 vs 3
    assert(st.versionAtTimestamp("t", 2500L) == 3L,
      "max committed version with stamp <= ts, not the prefix cut")
    assert(st.versionAtTimestamp("t", 5000L) == 3L)
    assert(st.versionAtTimestamp("t", 1500L) == 1L)
    intercept[IllegalArgumentException](st.versionAtTimestamp("t", 500L))
  }

  test("compact CAS: a concurrent append is never dropped from the head") {
    // Force the exact interleaving: compact scans version v, but an append
    // lands before compact's pointer CAS. The attempt must LOSE (None),
    // discard its candidate, and leave the append's row at the head — the
    // old unconditional forward move replaced the head with a snapshot
    // that predated the append, silently dropping its rows.
    val st = freshStore()
    st.append("t", Seq(1).toDF("x"))
    st.append("t", Seq(2).toDF("x"))
    val v = st.latestVersion("t").get
    st.append("t", Seq(3).toDF("x")) // lands between scan and CAS
    assert(st.compactOnce("t", v).isEmpty, "stale compact attempt must lose")
    assert(st.read("t").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // the discarded candidate left no directory behind
    assert(st.history("t") == st.history("t").sorted)
    // and the retrying public API compacts the POST-append head
    val c = st.compact("t")
    assert(st.baseOf("t", c).isEmpty, "compacted head is self-contained")
    assert(st.read("t").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("vacuum dropOrphans removes a crashed commit's directory") {
    val root = java.nio.file.Files.createTempDirectory("graft-orphan").toString
    val st = new SnapshotStore(spark, root)
    st.commit("t", Seq(1).toDF("x"))
    st.commit("t", Seq(2).toDF("x"))
    // simulate a crash: an allocated version directory above the pointer
    val orphan = java.nio.file.Paths.get(root, "t", "v=7")
    java.nio.file.Files.createDirectories(orphan)
    assert(st.history("t") == Seq(1L, 2L)) // orphan is not history
    // a FRESH orphan is indistinguishable from a live commit mid-write:
    // the grace window must protect it from this vacuum...
    st.vacuum("t", keepLast = 2, dropOrphans = true)
    assert(java.nio.file.Files.exists(orphan))
    // ...and reclaim it once it is demonstrably stale (backdated mtime)
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600_000L))
    st.vacuum("t", keepLast = 2, dropOrphans = true)
    assert(!java.nio.file.Files.exists(orphan))
    assert(st.history("t") == Seq(1L, 2L)) // committed versions intact
    // and the next commit allocates ABOVE where the orphan was... or not —
    // either way it must be a fresh directory that commits cleanly
    val v = st.commit("t", Seq(3).toDF("x"))
    assert(st.read("t").as[Int].collect().toSet == Set(3))
    assert(v > 2L)
  }

  test("append is a chain link: the version directory holds only the delta") {
    val st = freshStore()
    st.commit("t", (1 to 100).toDF("x"))
    val v = st.append("t", Seq(101).toDF("x"))
    assert(st.baseOf("t", v).contains(1L))
    // O(delta) write amplification: the link's own directory holds ONE row
    // (underscore dirs like _changes are invisible to the listing)
    val linkDir = java.nio.file.Paths.get(st.root, "t", s"v=$v").toString
    assert(spark.read.parquet(linkDir).count() == 1L)
    // while the assembled snapshot is the full chain
    assert(st.read("t").count() == 101L)
  }

  test("vacuum never reclaims a chain ancestor a kept version references") {
    val st = freshStore()
    st.commit("t", Seq(1).toDF("x"))
    st.append("t", Seq(2).toDF("x"))
    st.append("t", Seq(3).toDF("x"))
    st.vacuum("t", keepLast = 1)
    // v3's data lives in v1 and v2's directories — the keep set must expand
    // through the chain or vacuum corrupts the head it kept
    assert(st.read("t").as[Int].collect().toSet == Set(1, 2, 3))
    assert(st.history("t") == Seq(1L, 2L, 3L))
  }

  test("compact collapses the chain; vacuum can then reclaim the links") {
    val st = freshStore()
    st.commit("t", Seq(1).toDF("x"))
    st.append("t", Seq(2).toDF("x"))
    st.append("t", Seq(3).toDF("x"))
    val v = st.compact("t")
    assert(st.baseOf("t", v).isEmpty) // self-contained
    assert(st.read("t").as[Int].collect().toSet == Set(1, 2, 3))
    st.vacuum("t", keepLast = 1)
    assert(st.history("t") == Seq(v)) // chain reclaimed
    assert(st.read("t").as[Int].collect().toSet == Set(1, 2, 3))
  }

  test("append may ADD columns (older chain files read null); retype refused") {
    val st = freshStore()
    st.append("t", Seq((1, "a")).toDF("id", "s"))
    st.append("t", Seq((2, "b", 0.5)).toDF("id", "s", "score"))
    val snap = st.read("t")
    assert(snap.columns.toSeq == Seq("id", "s", "score"))
    val byId = snap.collect().map(r => r.getInt(0) -> r.isNullAt(2)).toMap
    assert(byId(1) && !byId(2)) // pre-evolution file reads the column as null
    // retyping an existing column is refused loudly, not discovered at scan
    val err = intercept[IllegalArgumentException] {
      st.append("t", Seq(("x", "y")).toDF("id", "s"))
    }
    assert(err.getMessage.contains("retype"))
    // the refused append claimed no version and broke nothing
    assert(st.read("t").count() == 2L)
  }

  test("mixed-writer stress: appends, deletes, compactions race without loss") {
    // Three writer roles on one table from independent store instances
    // (the cross-JVM shape): an appender streaming disjoint batches, a
    // deleter removing a known subset, a compactor rewriting layout.
    // Invariants at the end: every appended row except the deleted set is
    // present EXACTLY once, history is well-formed, and the head reads
    // through whatever mix of chain links / tombstones / compactions the
    // race produced.
    val root = java.nio.file.Files.createTempDirectory("graft-mix").toString
    val appender = new SnapshotStore(spark, root)
    val deleter = new SnapshotStore(spark, root)
    val compactor = new SnapshotStore(spark, root)
    appender.append("t", Seq(-1).toDF("x")) // seed
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          for (i <- 0 until 12) appender.append("t", Seq(i * 2, i * 2 + 1).toDF("x"))
      })
      val fd = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = for (_ <- 0 until 4) {
          // delete every multiple of 6 present at the time; re-running is
          // idempotent on the final state (later appends re-add none)
          deleter.delete("t", col("x") % 6 === 0 && col("x") >= 0)
          Thread.sleep(50)
        }
      })
      val fc = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = for (_ <- 0 until 3) {
          try compactor.compact("t")
          catch { case _: IllegalStateException => () } // append-hot: fine
          Thread.sleep(80)
        }
      })
      fa.get(); fd.get(); fc.get()
      // final delete AFTER all appends settles the expected set exactly
      deleter.delete("t", col("x") % 6 === 0 && col("x") >= 0)
    } finally pool.shutdown()
    val got = appender.read("t").as[Int].collect().toSeq
    val expected = (-1 +: (0 until 24)).filterNot(v => v >= 0 && v % 6 == 0)
    assert(got.sorted == expected.sorted,
      s"every surviving row exactly once (got ${got.sorted})")
    val hist = appender.history("t")
    assert(hist == hist.sorted && hist.distinct == hist)
  }

  test("delete rewrites ONLY matched files; untouched files are not copied") {
    val st = freshStore()
    // 4 disjoint-range files via clustered commit
    st.commitClustered("t",
      spark.range(0, 400).selectExpr("id", "id % 7 as v"),
      clusterBy = Seq("id"), targetPartitions = 4)
    val v1 = st.latestVersion("t").get
    val filesBefore = java.nio.file.Files.list(
        java.nio.file.Paths.get(st.root, "t", s"v=$v1"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    assert(filesBefore.size == 4)

    val d = st.delete("t", col("id").between(100, 149))
    assert(d > v1)
    // parity with the filtered rewrite
    assert(st.read("t").as[(Long, Long)].collect().map(_._1).sorted.toSeq ==
      ((0L until 100L) ++ (150L until 400L)))
    // exactly one file tombstoned (ids 100-149 live in one clustered file)
    assert(st.removedAt("t", d).size == 1)
    // the delete version holds only the survivor rewrite of that one file
    val deltaFiles = java.nio.file.Files.list(
        java.nio.file.Paths.get(st.root, "t", s"v=$d"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    assert(deltaFiles.size <= 1, s"O(matched files) rewrite, got $deltaFiles")
    // untouched originals still on disk, byte-identical set
    val after = java.nio.file.Files.list(
        java.nio.file.Paths.get(st.root, "t", s"v=$v1"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    assert(after.sorted == filesBefore.sorted)
    // time travel reads through the tombstones
    assert(st.readAt("t", v1).count() == 400)
  }

  test("delete: no-match is a no-op; null predicate rows survive; stacking") {
    val st = freshStore()
    st.commit("t", Seq((1L, Some("a")), (2L, None: Option[String]),
      (3L, Some("c"))).toDF("id", "s"))
    val v = st.latestVersion("t").get
    assert(st.delete("t", col("id") > 100) == v, "no matches: no new version")
    // SQL DELETE semantics: predicate NULL (s is null) keeps the row
    val d1 = st.delete("t", col("s") === "a")
    assert(st.read("t").select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // stacked delete over a chain that already has tombstones — removes a
    // row living in d1's survivor rewrite
    val d2 = st.delete("t", col("id") === 3)
    assert(d2 > d1)
    assert(st.read("t").select("id").as[Long].collect().toSeq == Seq(2L))
    // delete EVERYTHING: empty snapshot still reads (zero rows, schema kept)
    st.delete("t", lit(true))
    assert(st.read("t").count() == 0)
    assert(st.read("t").columns.toSeq == Seq("id", "s"))
  }

  test("schema DDL never starves under a sustained appender; renames never lose appends") {
    // A sibling append beats EVERY CAS round, 8 times — past the old
    // bounded budget of 5 that let a busy appender starve metadata DDL
    // (the delete-starvation class, round 12). add/dropColumns recompute
    // is metadata-only, so they CAS-until-won like append: each loss IS a
    // sibling's progress.
    val root = java.nio.file.Files.createTempDirectory("graft-ddlrace").toString
    val st = new SnapshotStore(spark, root)
    val sibling = new SnapshotStore(spark, root)
    st.commit("t", spark.range(0, 10).toDF("id"))
    var remaining = 0
    SnapshotStore.testRaceHook = () => if (remaining > 0) {
      remaining -= 1
      sibling.append("t", spark.range(100, 101).toDF("id"))
    }
    val d = try {
      remaining = 4
      st.addColumns("t", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType))))
      assert(remaining == 0, "the appender must contend every add round")
      remaining = 4
      st.dropColumns("t", Seq("w"))
    } finally SnapshotStore.testRaceHook = () => ()
    assert(remaining == 0, "the appender must contend every drop round")
    assert(d == st.latestVersion("t").get)
    // every contended append survived; the schema ends where DDL left it
    assert(st.read("t").count() == 18)
    assert(st.read("t").columns.toSeq == Seq("id"))

    // renameColumns is an O(table) rewrite with a bounded budget — but a
    // lost round must RE-READ the head, never silently drop the append
    // that beat it (the lost-update hazard of a caller's read-then-commit).
    var fired = false
    SnapshotStore.testRaceHook = () => if (!fired) {
      fired = true
      sibling.append("t", spark.range(200, 205).toDF("id"))
    }
    try st.renameColumns("t", Map("id" -> "key"))
    finally SnapshotStore.testRaceHook = () => ()
    assert(fired)
    assert(st.read("t").columns.toSeq == Seq("key"))
    assert(st.read("t").count() == 23,
      "the append that won the first CAS round must survive the rename rewrite")
  }

  /** Version directories of `table` lacking the completed-write marker
    * (`_SUCCESS`) or the publish sentinel (`_committed`): a candidate that
    * was neither published nor discarded. */
  private def orphanDirs(root: String, table: String): Seq[String] = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(root, table))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("v="))
      .filterNot(d => Seq("_SUCCESS", "_committed")
        .forall(m => java.nio.file.Files.exists(d.resolve(m))))
      .map(_.getFileName.toString).toSeq
    finally s.close()
  }

  /** Strip the field-id metadata from every pinned snapshot schema of
    * `table`: a pre-field-id (legacy) table, read by column name. */
  private def stripFieldIds(root: String, table: String): Unit = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(root, table))
    try s.iterator().asScala
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
    finally s.close()
    SnapshotStore.dropCachesForTests()
  }

  /** One single-table writer on the optimistic-commit loop: its fixture
    * on top of the 20-row table `t(id, s)`, the write, the check that
    * its effect landed, and the id column's name after it. */
  private case class LoopWriter(name: String,
      setup: SnapshotStore => Unit = _ => (),
      write: SnapshotStore => Long,
      applied: SnapshotStore => Boolean,
      idCol: String = "id")

  private val loopWriters: Seq[LoopWriter] = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    def props(st: SnapshotStore) = st.tablePropertiesOf("t", st.latestVersion("t").get)
    def checks(st: SnapshotStore) = st.checkConstraintsOf("t", st.latestVersion("t").get)
    def keys(st: SnapshotStore) = st.keyConstraintsOf("t", st.latestVersion("t").get)
    def legacy(st: SnapshotStore): Unit = stripFieldIds(st.root, "t")
    Seq(
      LoopWriter("compact", setup = _.append("t", Seq((500L, "x")).toDF("id", "s")),
        write = _.compact("t"),
        applied = st => st.baseOf("t", st.latestVersion("t").get).isEmpty),
      LoopWriter("compactVectored",
        // sparse delete over 4 clustered files: a deletion vector, no rewrite
        setup = st => {
          st.commitClustered("t", spark.range(0, 400)
            .select(col("id"), col("id").cast("string").as("s")), Seq("id"),
            targetPartitions = 4)
          val d = st.delete("t", col("id") === 7L)
          assert(st.dvAt("t", d).nonEmpty, "fixture must exercise the DV path")
        },
        write = _.compactVectored("t"),
        applied = st => st.dvInChain("t", st.latestVersion("t").get).isEmpty &&
          st.read("t").where(col("id") === 7L).head(1).isEmpty),
      LoopWriter("addColumns",
        write = _.addColumns("t", StructType(Seq(StructField("w", DoubleType)))),
        applied = _.read("t").columns.contains("w")),
      LoopWriter("dropColumns", write = _.dropColumns("t", Seq("s")),
        applied = _.read("t").columns.toSeq == Seq("id")),
      LoopWriter("renameColumns (metadata link)",
        write = _.renameColumns("t", Map("id" -> "key")),
        applied = st => st.read("t").columns.toSeq == Seq("key", "s") &&
          st.commitProps("t", st.latestVersion("t").get)
            .get(SnapshotStore.OpProp).contains("rename-columns-metadata"),
        idCol = "key"),
      LoopWriter("renameColumns (legacy rewrite)", setup = legacy,
        write = _.renameColumns("t", Map("id" -> "key")),
        applied = st => st.read("t").columns.toSeq == Seq("key", "s") &&
          st.baseOf("t", st.latestVersion("t").get).isEmpty,
        idCol = "key"),
      LoopWriter("adoptFieldIds", setup = legacy, write = _.adoptFieldIds("t"),
        applied = st => SnapshotStore.schemaHasFieldIds(st.snapshotSchema("t"))),
      LoopWriter("addCheckConstraint",
        write = _.addCheckConstraint("t", "id_nonneg", "id >= 0"),
        applied = checks(_).contains("id_nonneg")),
      LoopWriter("dropCheckConstraint",
        setup = _.addCheckConstraint("t", "id_nonneg", "id >= 0"),
        write = _.dropCheckConstraint("t", "id_nonneg"),
        applied = checks(_).isEmpty),
      LoopWriter("addKeyConstraint",
        write = _.addKeyConstraint("t", "pk", "primary", Seq("id")),
        applied = keys(_).contains("pk")),
      LoopWriter("dropKeyConstraint",
        setup = _.addKeyConstraint("t", "pk", "primary", Seq("id")),
        write = _.dropKeyConstraint("t", "pk"),
        applied = keys(_).isEmpty),
      LoopWriter("setTableProperties",
        write = _.setTableProperties("t", Map("owner" -> "kg")),
        applied = props(_).get("owner").contains("kg")),
      LoopWriter("unsetTableProperties",
        setup = _.setTableProperties("t", Map("owner" -> "kg")),
        write = _.unsetTableProperties("t", Seq("owner")),
        applied = props(_).isEmpty),
      LoopWriter("merge",
        write = _.merge("t", Seq((3L, "merged"), (700L, "new")).toDF("id", "s"),
          col("target.id") === col("source.id"),
          matchedUpdate = Some(Map("s" -> col("source.s")))),
        applied = st => st.read("t").where(col("id").isin(3L, 700L))
          .select("s").as[String].collect().toSet == Set("merged", "new")),
      LoopWriter("commitMaintainerProps",
        write = _.commitMaintainerProps("t", Map("graft.view.horizon" -> "7")),
        applied = st => st.resolvedProps("t", st.latestVersion("t").get)
          .get("graft.view.horizon").contains("7")))
  }

  test("every writer on the commit loop survives a lost first round: effect applied, sibling kept, no orphan") {
    loopWriters.foreach { w =>
      val root = java.nio.file.Files.createTempDirectory("graft-loop").toString
      val st = new SnapshotStore(spark, root)
      val sibling = new SnapshotStore(spark, root)
      st.commit("t", spark.range(0, 20)
        .select(col("id"), col("id").cast("string").as("s")))
      w.setup(st)
      val before = st.read("t").select("id").as[Long].collect().toSet
      var siblingV = Option.empty[Long]
      SnapshotStore.testRaceHook = () => if (siblingV.isEmpty)
        siblingV = Some(sibling.append("t", Seq((1000L, "sib")).toDF("id", "s")))
      val won = try w.write(st) finally SnapshotStore.testRaceHook = () => ()
      assert(siblingV.nonEmpty, s"${w.name}: the race hook must fire")
      assert(won > siblingV.get && st.latestVersion("t").contains(won),
        s"${w.name}: the writer republishes above the sibling that won round one")
      assert(w.applied(st), s"${w.name}: effect applied")
      val ids = st.read("t").select(w.idCol).as[Long].collect().toSet
      assert(ids.contains(1000L), s"${w.name}: the sibling's row is readable")
      assert(before.subsetOf(ids), s"${w.name}: no earlier row lost")
      assert(orphanDirs(root, "t").isEmpty,
        s"${w.name}: orphaned candidate(s) ${orphanDirs(root, "t")}")
    }
  }

  test("a bounded rewrite out of budget fails loudly, keeps every append, orphans nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-budget").toString
    val st = new SnapshotStore(spark, root)
    val sibling = new SnapshotStore(spark, root)
    st.commit("t", spark.range(0, 10).toDF("id"))
    var appended = Seq.empty[Long]
    SnapshotStore.testRaceHook = () => {
      val id = 100L + appended.size
      sibling.append("t", Seq(id).toDF("id"))
      appended :+= id
    }
    val e = try intercept[IllegalStateException](st.compact("t", maxRetries = 1))
    finally SnapshotStore.testRaceHook = () => ()
    assert(e.getMessage.contains("compact(t) lost the commit race 1 times"))
    assert(appended.size == 2, "one initial round plus one retry")
    assert(st.read("t").as[Long].collect().sorted.toSeq ==
      ((0L until 10L) ++ appended))
    assert(orphanDirs(root, "t").isEmpty)
  }

  test("delete re-bases over a pure-append conflict: no recompute, no starvation") {
    // Force the exact interleaving that starved the old recompute loop: a
    // sibling append lands AFTER the delete's survivor candidate is fully
    // written, BEFORE its pointer CAS. The delete must NOT throw away its
    // work — appends only add files, so the candidate re-bases: renamed
    // above the append's head, tombstones kept, and ONLY the newly
    // appended files scanned for additional matches (serialize-last, like
    // a recompute would produce — but O(delta) instead of O(matched)).
    val root = java.nio.file.Files.createTempDirectory("graft-rebase").toString
    val st = new SnapshotStore(spark, root)
    val sibling = new SnapshotStore(spark, root)
    st.commitClustered("t", spark.range(0, 100).toDF("id"),
      clusterBy = Seq("id"), targetPartitions = 2)
    var fired = false
    SnapshotStore.testRaceHook = () => if (!fired) {
      fired = true
      sibling.append("t", spark.range(100, 110).toDF("id")) // 105 matches
    }
    val d = try st.delete("t", col("id") % 7 === 0)
    finally SnapshotStore.testRaceHook = () => ()
    assert(fired, "race hook must have interleaved the append")
    // the delete serialized AFTER the append: matches from BOTH the
    // original snapshot and the appended batch are gone, exactly once each
    val expected = (0L until 110L).filterNot(_ % 7 == 0)
    assert(st.read("t").as[Long].collect().sorted.toSeq == expected)
    // the committed delete is a chain link over the APPEND's head
    val appendV = st.history("t").filter(_ < d).max
    assert(st.baseOf("t", d).contains(appendV), "rebased onto the append")
    // tombstones cover matched files from the original commit AND the
    // appended link (105 lived there)
    val removed = st.removedAt("t", d)
    assert(removed.exists(_.startsWith("v=1/")), "original matched files tombstoned")
    assert(removed.exists(_.startsWith(s"v=$appendV/")), "appended matched file tombstoned")
    // change-data feed carries every removed row exactly once
    val feedDeletes = st.changeFeedSince("t", 0L)
      .where(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq
    assert(feedDeletes == (0L until 110L).filter(_ % 7 == 0))
    // time travel: the append's head still shows the pre-delete world
    assert(st.readAt("t", appendV).count() == 110)
    val hist = st.history("t")
    assert(hist == hist.sorted && hist.distinct == hist)
  }

  test("update rewrites matched rows in place; CDF records delete(pre)+insert(post)") {
    val st = freshStore()
    st.commitClustered("t",
      spark.range(0, 100).selectExpr("id", "cast(id % 10 as double) as v",
        "cast(id % 3 as string) as tag"),
      clusterBy = Seq("id"), targetPartitions = 4)
    val v1 = st.latestVersion("t").get
    // assignment references the OLD row (v doubled where tag = '1')
    val uv = st.update("t", col("tag") === "1",
      Map("v" -> (col("v") * 2), "tag" -> lit("updated")))
    assert(uv > v1)
    val now = st.read("t").select("id", "v", "tag")
      .as[(Long, Double, String)].collect()
      .map { case (i, vv, tag) => i -> ((vv, tag)) }.toMap
    for (i <- 0L until 100L) {
      val (vv, tag) = now(i)
      if (i % 3 == 1) assert(vv == (i % 10) * 2.0 && tag == "updated", s"id $i")
      else assert(vv == (i % 10).toDouble && tag == (i % 3).toString, s"id $i")
    }
    // O(matched files): tombstones only for files holding a tag='1' row
    assert(st.removedAt("t", uv).nonEmpty)
    // CDF: pre-images as deletes, post-images as inserts, same version
    val feed = st.changeFeedSince("t", sinceVersion = v1)
      .select("id", "tag", "_change_type").as[(Long, String, String)]
      .collect().toSet
    val expectedPre = (0L until 100L).filter(_ % 3 == 1)
      .map(i => (i, "1", "delete")).toSet
    val expectedPost = (0L until 100L).filter(_ % 3 == 1)
      .map(i => (i, "updated", "insert")).toSet
    assert(feed == expectedPre ++ expectedPost)
    // streaming insert feed sees exactly the post-image as admitted rows
    assert(st.changesAt("t", uv).get.count() ==
      (0L until 100L).count(_ % 3 == 1))
    // time travel reads the pre-update rows
    assert(st.readAt("t", v1).where(col("tag") === "updated").count() == 0)
    // no-match update is a no-op
    assert(st.update("t", col("id") > 10000, Map("v" -> lit(0.0))) == uv)
    // unknown column refused
    intercept[IllegalArgumentException] {
      st.update("t", lit(true), Map("nope" -> lit(1)))
    }
    // lossy coercion refused up front: under non-ANSI semantics a
    // string→double Column.cast would silently NULL every matched row
    val lossy = intercept[IllegalArgumentException] {
      st.update("t", lit(true), Map("v" -> lit("not a number")))
    }
    assert(lossy.getMessage.contains("lossy"))
    // …while a lossless up-cast (int literal into the double column) is fine
    st.update("t", col("id") === 0L, Map("v" -> lit(42)))
    assert(st.read("t").where(col("id") === 0L).select("v")
      .as[Double].head() == 42.0)
  }

  test("a maintained aggregate folds an update exactly (delete+insert net)") {
    val st = freshStore()
    st.append("src", Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("k", "v"))
    graft.core.MaterializedView.refresh(st, "src", "view", "k", "v")
    st.update("src", col("k") === "a" && col("v") === 2.0,
      Map("v" -> lit(10.0)))
    graft.core.MaterializedView.refresh(st, "src", "view", "k", "v")
    val got = graft.core.MaterializedView.read(st, "view")
      .select("k", "n", "total").as[(String, Long, BigDecimal)].collect().toSet
    assert(got == Set(("a", 2L, BigDecimal("11.0000")),
      ("b", 1L, BigDecimal("5.0000"))))
  }

  test("compact folds tombstones; vacuum then reclaims replaced bytes") {
    val st = freshStore()
    st.commitClustered("t", spark.range(0, 200).toDF("id"),
      clusterBy = Seq("id"), targetPartitions = 2)
    st.delete("t", col("id") < 50)
    val c = st.compact("t")
    assert(st.baseOf("t", c).isEmpty, "compacted head is self-contained")
    assert(st.removedAt("t", c).isEmpty, "tombstones folded, not carried")
    assert(st.read("t").as[Long].collect().sorted.toSeq == (50L until 200L))
    st.vacuum("t", keepLast = 1)
    assert(st.history("t") == Seq(c))
    assert(st.read("t").count() == 150)
  }

  test("a fully-written but never-exposed candidate is invisible everywhere") {
    // The cross-process OCC hazard: a CAS candidate (or a commit crashed
    // right before its pointer step) sits BELOW a sibling's higher pointer
    // with data + _SUCCESS complete. `_SUCCESS` alone only proves the
    // files are whole — commitment requires the `_committed` sentinel the
    // pointer protocol writes under the lock. Without the sentinel gate,
    // history/readAt/feeds would transiently expose the loser (and an
    // append loser's later relink would re-emit the same change set —
    // a double-fold for incremental consumers), and vacuum would reclaim
    // an in-flight retry's data as old history.
    val root = java.nio.file.Files.createTempDirectory("graft-vis").toString
    val st = new SnapshotStore(spark, root)
    st.commit("t", Seq(1).toDF("x")) // v1
    // Fake the fully-written loser at v=2: v1's files (data, _SUCCESS,
    // schema pin) minus the sentinel only a pointer win writes.
    val v1 = java.nio.file.Paths.get(root, "t", "v=1")
    val v2 = java.nio.file.Paths.get(root, "t", "v=2")
    java.nio.file.Files.createDirectories(v2)
    val w = java.nio.file.Files.walk(v1)
    try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .filterNot(_.getFileName.toString == "_committed")
      .foreach(p => java.nio.file.Files.copy(p, v2.resolve(v1.relativize(p).toString)))
    finally w.close()
    val v3 = st.commit("t", Seq(3).toDF("x")) // allocates above the loser
    assert(v3 == 3L)
    assert(st.history("t") == Seq(1L, 3L), "pending candidate is not history")
    intercept[IllegalArgumentException] { st.readAt("t", 2L) }
    intercept[IllegalArgumentException] { st.changesAt("t", 2L) }
    assert(st.changeFeedSince("t", 0L).where(col("_version") === 2L).count() == 0)
    // vacuum: the sentinel-less directory is an ORPHAN candidate — the
    // mtime grace window protects it while fresh (it may be a live retry
    // mid-relink), reclaim only once demonstrably stale.
    st.vacuum("t", keepLast = 2, dropOrphans = true)
    assert(java.nio.file.Files.exists(v2), "grace window protects a fresh candidate")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600_000L)
    val w2 = java.nio.file.Files.walk(v2)
    try w2.iterator().asScala.toSeq.foreach(
      java.nio.file.Files.setLastModifiedTime(_, old))
    finally w2.close()
    st.vacuum("t", keepLast = 2, dropOrphans = true)
    assert(!java.nio.file.Files.exists(v2), "stale loser reclaimed as orphan")
    assert(st.history("t") == Seq(1L, 3L))
    assert(st.read("t").as[Int].collect().toSeq == Seq(3))
  }

  test("sparse delete records a deletion vector: no file rewrite at all") {
    // The copy-on-write worst case: ONE matching row in a fat file forces
    // a whole-file rewrite. With the manifest knowing file row counts, a
    // matched fraction within dvMaxFraction goes row-granular instead —
    // the commit writes a `_dv.json` sidecar (file -> row indexes), ZERO
    // parquet data, no tombstones; readers anti-join the vector.
    val st = freshStore()
    st.commit("t", spark.range(0, 1000).selectExpr("id", "id * 2 as v")
      .coalesce(1))
    val v1 = st.latestVersion("t").get
    val d = st.delete("t", col("id") === 500L)
    assert(d > v1)
    // no rewrite: the delete version holds NO parquet files…
    val deltaFiles = java.nio.file.Files.list(
        java.nio.file.Paths.get(st.root, "t", s"v=$d"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    assert(deltaFiles.isEmpty, s"DV delete must not rewrite (got $deltaFiles)")
    // …no tombstones, ONE vector entry
    assert(st.removedAt("t", d).isEmpty)
    assert(st.dvAt("t", d).values.map(_.size).sum == 1)
    // reads exclude exactly the vectored row; time travel unaffected
    assert(st.read("t").count() == 999)
    assert(st.read("t").where(col("id") === 500L).count() == 0)
    assert(st.readAt("t", v1).count() == 1000)
    // change-data feed carries the deleted row
    assert(st.changeFeedSince("t", v1)
      .where(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSeq == Seq(500L))
    // STACKED sparse delete on the same file: vectors union, and the
    // already-deleted row must not re-match (no duplicate feed image)
    val d2 = st.delete("t", col("id").isin(500L, 501L, 502L))
    assert(st.dvAt("t", d2).values.map(_.size).sum == 2, "only NEW rows vectored")
    assert(st.read("t").count() == 997)
    // a DENSE delete over the same file still rewrites (fraction > cap)…
    val d3 = st.delete("t", col("id") >= 500L)
    assert(st.removedAt("t", d3).nonEmpty, "dense delete takes copy-on-write")
    // …and its survivors must honor the earlier vectors (497 of id<500
    // remain: 0..499 had no vectored rows — all 500 survive)
    assert(st.read("t").as[(Long, Long)].collect().map(_._1).sorted.toSeq ==
      (0L until 500L))
    // compact folds vectors into a self-contained version
    val c = st.compact("t")
    assert(st.dvAt("t", c).isEmpty && st.removedAt("t", c).isEmpty)
    assert(st.read("t").count() == 500)
  }

  test("sparse update: vector kills the old row, delta carries the post-image") {
    val st = freshStore()
    st.commit("t", spark.range(0, 1000)
      .selectExpr("id", "cast(id as double) as v").coalesce(1))
    val v1 = st.latestVersion("t").get
    val u = st.update("t", col("id") === 7L, Map("v" -> lit(-1.0)))
    assert(u > v1)
    // no rewrite of the fat file: the version's own data is ONE row (the
    // post-image), the old row dies by vector
    assert(st.removedAt("t", u).isEmpty)
    assert(st.dvAt("t", u).values.map(_.size).sum == 1)
    val delta = spark.read.parquet(
      java.nio.file.Paths.get(st.root, "t", s"v=$u").toString)
    assert(delta.count() == 1)
    val got = st.read("t").where(col("id") === 7L)
      .select("v").as[Double].collect().toSeq
    assert(got == Seq(-1.0), "exactly one post-image row visible")
    assert(st.read("t").count() == 1000)
    // CDF: delete(pre-image v=7.0) + insert(post-image v=-1.0)
    val feed = st.changeFeedSince("t", v1)
      .select("id", "v", "_change_type").as[(Long, Double, String)]
      .collect().toSet
    assert(feed == Set((7L, 7.0, "delete"), (7L, -1.0, "insert")))
    // maintained aggregate folds the sparse update exactly
    assert(st.readAt("t", v1).agg(sum(col("v"))).head().getDouble(0) ==
      (0L until 1000L).map(_.toDouble).sum)
    assert(st.read("t").agg(sum(col("v"))).head().getDouble(0) ==
      (0L until 1000L).map(_.toDouble).sum - 7.0 - 1.0)
  }

  test("merge: upsert (update matched from source, insert not-matched)") {
    val st = freshStore()
    st.commitClustered("t",
      spark.range(0, 100).selectExpr("id", "cast(id as double) as v"),
      clusterBy = Seq("id"), targetPartitions = 4)
    val v1 = st.latestVersion("t").get
    // source: updates ids 10,20 (v := source v), inserts ids 200,201
    val src = Seq((10L, -1.0), (20L, -2.0), (200L, 5.0), (201L, 6.0))
      .toDF("id", "v")
    val m = st.merge("t", src,
      col("target.id") === col("source.id"),
      matchedUpdate = Some(Map("v" ->
        (col("source.v") + col("target.v") * 0))))
    assert(m > v1)
    val now = st.read("t").as[(Long, Double)].collect().toMap
    assert(now.size == 102)
    assert(now(10L) == -1.0 && now(20L) == -2.0, "matched rows updated")
    assert(now(200L) == 5.0 && now(201L) == 6.0, "not-matched inserted")
    assert(now(11L) == 11.0, "unmatched target rows untouched")
    // O(matched files): only the files holding ids 10/20 tombstoned
    assert(st.removedAt("t", m).nonEmpty && st.removedAt("t", m).size <= 2)
    // change feed: delete(pre) for updates; insert(post + new rows)
    val feed = st.changeFeedSince("t", v1)
      .select("id", "v", "_change_type").as[(Long, Double, String)]
      .collect().toSet
    assert(feed == Set((10L, 10.0, "delete"), (20L, 20.0, "delete"),
      (10L, -1.0, "insert"), (20L, -2.0, "insert"),
      (200L, 5.0, "insert"), (201L, 6.0, "insert")))
    // time travel pre-merge intact
    assert(st.readAt("t", v1).count() == 100)
    // no-op merge (nothing matches, nothing inserts): no new version
    val empty = Seq((10L, 0.0)).toDF("id", "v").limit(0)
    assert(st.merge("t", empty, col("target.id") === col("source.id"),
      matchedUpdate = Some(Map("v" -> col("source.v")))) == m)
  }

  test("merge: sparse matched rows vector instead of rewriting (CDC upsert shape)") {
    // One changed row per fat file — THE continuous-upsert pattern, and
    // copy-on-write's worst case: the merge must record a deletion vector
    // for the old row and ship only the post-image as version data, never
    // rewrite the file.
    val st = freshStore()
    st.commit("t", spark.range(0, 10000)
      .selectExpr("id", "cast(id as double) as v").coalesce(1))
    val v1 = st.latestVersion("t").get
    val src = Seq((42L, -1.0), (20042L, 7.0)).toDF("id", "v") // 1 update + 1 insert
    val m = st.merge("t", src, col("target.id") === col("source.id"),
      matchedUpdate = Some(Map("v" -> col("source.v"))))
    assert(st.removedAt("t", m).isEmpty, "no tombstones: the fat file stays")
    assert(st.dvAt("t", m).values.map(_.size).sum == 1, "old row vectored")
    // version data = post-image + insert only
    assert(spark.read.parquet(
      java.nio.file.Paths.get(st.root, "t", s"v=$m").toString).count() == 2)
    val now = st.read("t")
    assert(now.count() == 10001)
    assert(now.where(col("id") === 42L).select("v").as[Double].head() == -1.0)
    assert(now.where(col("id") === 20042L).select("v").as[Double].head() == 7.0)
    // change images complete: delete(pre 42) + insert(post 42, new row)
    val feed = st.changeFeedSince("t", v1)
      .select("id", "v", "_change_type").as[(Long, Double, String)]
      .collect().toSet
    assert(feed == Set((42L, 42.0, "delete"), (42L, -1.0, "insert"),
      (20042L, 7.0, "insert")))
    // sparse matched DELETE merges vector too
    val m2 = st.merge("t", Seq(Tuple1(43L)).toDF("id"),
      col("target.id") === col("source.id"),
      matchedDelete = true, insertNotMatched = false)
    assert(st.removedAt("t", m2).isEmpty && st.dvAt("t", m2).nonEmpty)
    assert(st.read("t").count() == 10000)
    assert(st.read("t").where(col("id") === 43L).count() == 0)
  }

  test("merge: matched DELETE, cardinality violation, type gate, missing column") {
    val st = freshStore()
    st.commit("t", spark.range(0, 50)
      .selectExpr("id", "cast(id as double) as v", "'x' as tag").coalesce(1))
    // WHEN MATCHED THEN DELETE + insert-not-matched=false
    val m = st.merge("t", Seq(Tuple1(7L), Tuple1(8L)).toDF("id"),
      col("target.id") === col("source.id"),
      matchedDelete = true, insertNotMatched = false)
    assert(st.read("t").count() == 48)
    assert(st.read("t").where(col("id").isin(7L, 8L)).count() == 0)
    // delete pre-images in the feed, exactly once each
    assert(st.changeFeedSince("t", m - 1)
      .where(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq == Seq(7L, 8L))
    // a DUPLICATED source vs UPDATE: ambiguous, refused loudly
    val dup = Seq((9L, 1.0), (9L, 2.0)).toDF("id", "v")
    val err = intercept[IllegalStateException] {
      st.merge("t", dup, col("target.id") === col("source.id"),
        matchedUpdate = Some(Map("v" -> col("source.v"))))
    }
    assert(err.getMessage.contains("cardinality"))
    // …while the same duplicated source under DELETE is fine (idempotent)
    st.merge("t", dup, col("target.id") === col("source.id"),
      matchedDelete = true, insertNotMatched = false)
    assert(st.read("t").where(col("id") === 9L).count() == 0)
    // INSERT type gate: lossy source type refused
    val lossy = Seq(("not a number", 1.0)).toDF("id", "v")
    intercept[IllegalArgumentException] {
      st.merge("t", lossy.selectExpr("id", "v"),
        col("target.v") === col("source.v"))
    }
    // INSERT with a missing source column: nulls in, no error
    st.merge("t", Seq(Tuple1(999L)).toDF("id"),
      col("target.id") === col("source.id"))
    val row = st.read("t").where(col("id") === 999L)
      .select("v", "tag").collect().head
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("migrateLegacyTable stamps a pre-sentinel store back to readable") {
    // A store written before the _committed protocol has _SUCCESS-only
    // versions everywhere — all genuinely committed (the old protocol
    // renamed or deleted losers, never left them). Reads refuse them
    // under the new gate; the explicit migration stamps them committed.
    val root = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    val st = new SnapshotStore(spark, root)
    st.commit("t", Seq(1).toDF("x"))
    st.append("t", Seq(2).toDF("x"))
    // simulate the legacy layout: strip every sentinel
    for (v <- Seq(1L, 2L))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(root, "t", s"v=$v", "_committed"))
    assert(st.history("t").isEmpty, "pre-migration: nothing reads as committed")
    // The refusal must DIAGNOSE the legacy pattern (complete write at/below
    // the pointer, sentinel absent) and name the migration — the generic
    // "not committed" message leaves the fix undiscoverable.
    val refusal = intercept[IllegalArgumentException](st.read("t"))
    assert(refusal.getMessage.contains("migrateLegacyTable"),
      s"legacy refusal must name the migration, got: ${refusal.getMessage}")
    st.migrateLegacyTable("t")
    assert(st.history("t") == Seq(1L, 2L))
    assert(st.read("t").as[Int].collect().toSet == Set(1, 2))
    st.migrateLegacyTable("t") // idempotent
    st.migrateLegacyTable("never_existed") // no-op on unknown tables
    assert(st.history("t") == Seq(1L, 2L))
  }

  test("vacuumOlderThan reclaims by commit stamp; TIMESTAMP AS OF reaches the horizon") {
    val st = freshStore()
    (1 to 4).foreach(i => st.commit("t", Seq(i).toDF("x")))
    val t3 = st.commitTimeOf("t", 3L).get
    // horizon at v3's stamp: v1/v2 (strictly older) reclaim, v3/v4 stay
    st.vacuumOlderThan("t", t3)
    assert(st.history("t") == Seq(3L, 4L))
    assert(st.readAt("t", 3).as[Int].collect().toSet == Set(3))
    assert(st.versionAtTimestamp("t", t3) == 3L,
      "AS OF reaches exactly as far back as the horizon")
    // everything older than the far future: the newest version survives
    st.vacuumOlderThan("t", Long.MaxValue)
    assert(st.history("t") == Seq(4L))
    assert(st.read("t").as[Int].collect().toSet == Set(4))
    // chain safety: appends pin their ancestors like vacuum(keepLast)
    val st2 = freshStore()
    st2.commit("u", Seq(1).toDF("x"))
    Thread.sleep(3)
    st2.append("u", Seq(2).toDF("x"))
    st2.vacuumOlderThan("u", st2.commitTimeOf("u", 2L).get)
    assert(st2.read("u").as[Int].collect().toSet == Set(1, 2),
      "a kept chain link must pin its ancestor directories")
  }

  test("compactVectored folds chain deletion vectors; content and feeds unchanged") {
    val st = freshStore()
    st.commitClustered("t", spark.range(0, 4000)
      .select(col("id"), (col("id") * 2).as("v")), Seq("id"),
      targetPartitions = 4)
    // sparse delete: ~2 of ~1000 rows per file → deletion vectors, no rewrite
    val d = st.delete("t", col("id") % 500 === 7)
    assert(st.dvAt("t", d).nonEmpty, "fixture must exercise the DV path")
    val expected = st.read("t").select(sum(col("v"))).as[Long].head()
    val folded = st.compactVectored("t")
    assert(st.dvInChain("t", folded).isEmpty, "fold must clear every chain vector")
    assert(st.read("t").select(sum(col("v"))).as[Long].head() == expected,
      "fold is content-neutral")
    assert(st.read("t").count() == 4000 - 8)
    // time travel below the fold still resolves the vectors
    assert(st.readAt("t", d).count() == 4000 - 8)
    // content-neutral to consumers: the FOLD version is never flagged as a
    // non-feed mutation (the initial bare commit legitimately is), and the
    // change-data feed carries the delete's images exactly once
    assert(!st.nonFeedMutationsSince("t", 0L).contains(folded),
      "a vector fold must not blind incremental consumers")
    val feedDeletes = st.changeFeedSince("t", 0L)
      .where(col("_change_type") === "delete")
    assert(feedDeletes.count() == 8, "fold must add no delete images")
    assert(st.compactVectored("t") == folded, "no vectors → unchanged head")
  }

  test("mutations auto-fold an over-cap vector chain (reader-broadcast backstop)") {
    val st = freshStore()
    st.dvChainFoldRows = 4L // spec seam: the production cap is 4M rows
    st.commitClustered("t", spark.range(0, 4000)
      .select(col("id"), (col("id") * 2).as("v")), Seq("id"),
      targetPartitions = 4)
    st.delete("t", col("id") % 1000 === 3) // chain DV = 4 rows (at cap)
    st.delete("t", col("id") % 1000 === 5) // pre-check 4 > 4 false → stacks to 8
    val head = st.latestVersion("t").get
    assert(st.dvInChain("t", head).valuesIterator.map(_.size).sum == 8)
    // next mutation sees 8 > 4: folds first, then mutates the clean head
    st.delete("t", col("id") % 1000 === 7)
    val after = st.latestVersion("t").get
    assert(st.dvInChain("t", after).valuesIterator.map(_.size).sum == 4,
      "the over-cap chain must fold; only the new mutation's vectors remain")
    assert(st.history("t").exists(v =>
      st.commitProps("t", v).get(SnapshotStore.OpProp).contains("compact-dv")),
      "the fold must be a tagged content-neutral commit")
    assert(st.read("t").count() == 4000 - 12, "all three deletes applied")
    // only the initial bare commit is a non-feed mutation; the fold is not
    assert(st.nonFeedMutationsSince("t", 1L).isEmpty)
  }

  test("appendAll commits N tables atomically; both crash windows are all-or-none") {
    // The reference's ingestion transaction writes concepts + instances +
    // sources + epoch in ONE Postgres tx; the store's multi-table append
    // must give readers the same contract: never table A's half of an
    // ingest without table B's.
    val st = freshStore()
    st.append("concepts", Seq((1L, "c1")).toDF("id", "label"))
    st.append("instances", Seq((10L, 1L)).toDF("iid", "concept_id"))
    // the happy path: both tables advance together
    val committed = st.appendAll(Map(
      "concepts" -> Seq((2L, "c2")).toDF("id", "label"),
      "instances" -> Seq((20L, 2L)).toDF("iid", "concept_id")))
    assert(committed.keySet == Set("concepts", "instances"))
    assert(st.read("concepts").count() == 2 && st.read("instances").count() == 2)
    // change feeds see the deltas like any append
    assert(st.changesAt("concepts", committed("concepts")).get.count() == 1)

    // CRASH WINDOW 1 — after candidate writes, BEFORE the intent: neither
    // table may expose anything (unexposed orphans, reclaimed by vacuum)
    val cands = st.appendAllPrepare(Map(
      "concepts" -> Seq((3L, "c3")).toDF("id", "label"),
      "instances" -> Seq((30L, 3L)).toDF("iid", "concept_id")))
    // "crash": nothing else happens
    assert(st.read("concepts").count() == 2, "concepts half not exposed")
    assert(st.read("instances").count() == 2, "instances half not exposed")
    assert(st.history("concepts").size == 2 && st.history("instances").size == 2)
    // clean the abandoned candidates so they don't interfere below
    for ((t, (v, _)) <- cands) {
      val w = java.nio.file.Files.walk(
        java.nio.file.Paths.get(st.root, t, s"v=$v"))
      try w.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally w.close()
    }

    // CRASH WINDOW 2 — after the intent, BEFORE any pointer move: the
    // intent is the commit point, so recovery rolls BOTH forward
    val cands2 = st.appendAllPrepare(Map(
      "concepts" -> Seq((4L, "c4")).toDF("id", "label"),
      "instances" -> Seq((40L, 4L)).toDF("iid", "concept_id")))
    st.writeTxnIntent(cands2.map { case (t, (v, _)) => t -> v })
    // "crash": pointers never moved. A fresh reader triggers roll-forward.
    val reader = new SnapshotStore(spark, st.root)
    assert(reader.read("concepts").count() == 3, "rolled forward")
    assert(reader.read("instances").count() == 3, "rolled forward")
    assert(reader.latestVersion("concepts").contains(cands2("concepts")._1))
    assert(reader.latestVersion("instances").contains(cands2("instances")._1))
    assert(!java.nio.file.Files.list(
        java.nio.file.Paths.get(st.root, "_txn"))
      .iterator().asScala.exists(_.getFileName.toString.endsWith(".json")),
      "intent removed after recovery")

    // a CONCURRENT sibling append lands between prepare and commit: the
    // stale table's candidate RELINKS onto the sibling's head and the
    // transaction still commits both tables atomically, nothing lost
    val sibling = new SnapshotStore(spark, st.root)
    val txnRows = Map(
      "concepts" -> Seq((7L, "c7")).toDF("id", "label"),
      "instances" -> Seq((70L, 7L)).toDF("iid", "concept_id"))
    val prep = st.appendAllPrepare(txnRows)
    sibling.append("concepts", Seq((6L, "c6")).toDF("id", "label"))
    val r2 = st.appendAllCommit(prep, txnRows).get
    assert(st.read("concepts").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 6L, 7L), "sibling's row AND the txn's row both present")
    assert(st.read("instances").select("iid").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 40L, 70L))
    // the relinked concepts delta sits ABOVE the sibling's commit
    assert(st.baseOf("concepts", r2("concepts"))
      .contains(sibling.latestVersion("concepts").get - 1) ||
      r2("concepts") > prep("concepts")._1, "concepts candidate was relinked")
    val hist = st.history("concepts")
    assert(hist == hist.sorted && hist.distinct == hist)
  }

  test("deleteAll: a cascade delete is one commit point across tables") {
    val st = freshStore()
    st.commit("concepts", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("cid", "label"))
    st.commit("edges", Seq((10L, 1L), (11L, 1L), (12L, 2L)).toDF("eid", "cid"))
    st.commit("other", Seq((99L, 9L)).toDF("eid", "cid"))
    val vOther = st.latestVersion("other").get
    // cascade: concept 1 and its owned edges go together; `other` has no
    // match and participates only in the serialization point
    val r = st.deleteAll(Map(
      "concepts" -> (col("cid") === 1L),
      "edges" -> (col("cid") === 1L),
      "other" -> (col("cid") === 1L)))
    assert(st.read("concepts").select("cid").as[Long].collect().toSet ==
      Set(2L, 3L))
    assert(st.read("edges").select("eid").as[Long].collect().toSet ==
      Set(12L))
    assert(r("other") == vOther && st.latestVersion("other").get == vOther,
      "a no-match table commits NO version")
    assert(r("concepts") == st.latestVersion("concepts").get)
    // delete images recorded per table (the feeds see the cascade)
    assert(st.deletedRowsAt("concepts", r("concepts")).get.count() == 1L)
    assert(st.deletedRowsAt("edges", r("edges")).get.count() == 2L)
    // nothing matched anywhere: a clean no-op, no versions committed
    val before = (st.latestVersion("concepts").get, st.latestVersion("edges").get)
    st.deleteAll(Map("concepts" -> (col("cid") === 777L),
      "edges" -> (col("cid") === 777L)))
    assert((st.latestVersion("concepts").get,
      st.latestVersion("edges").get) == before)
  }

  test("deleteAll: a sibling landing mid-prepare forces a full re-prepare") {
    val st = freshStore()
    st.commit("concepts", Seq((1L, "a"), (2L, "b")).toDF("cid", "label"))
    st.commit("edges", Seq((10L, 1L), (12L, 2L)).toDF("eid", "cid"))
    val sibling = new SnapshotStore(spark, st.root)
    var fired = false
    SnapshotStore.testRaceHook = () => if (!fired) {
      fired = true
      // the sibling adds an EDGE OF THE DOOMED CONCEPT after the
      // candidates were prepared — the stale base must discard the whole
      // tx and re-prepare, or the new edge would dangle
      sibling.append("edges", Seq((13L, 1L)).toDF("eid", "cid"))
    }
    try st.deleteAll(Map(
      "concepts" -> (col("cid") === 1L), "edges" -> (col("cid") === 1L)))
    finally SnapshotStore.testRaceHook = () => ()
    assert(fired)
    assert(st.read("concepts").select("cid").as[Long].collect().toSet == Set(2L))
    assert(st.read("edges").select("eid").as[Long].collect().toSet == Set(12L),
      "the re-prepared cascade must catch the racing edge 13")
  }

  test("mutateAll: reassign-then-dissolve is one commit point (update + delete)") {
    // The reference's M6 shape: move ontology A's members to B (UPDATE on
    // membership) and retire A (DELETE on ontologies) — atomically, so no
    // reader sees members still on A after A is gone, or vice versa.
    val st = freshStore()
    st.commit("ontologies", Seq(("A", 1L), ("B", 2L)).toDF("ont", "meta"))
    st.commit("membership",
      Seq(("A", 10L), ("A", 11L), ("B", 20L)).toDF("ont", "cid"))
    val r = st.mutateAll(
      deletes = Map("ontologies" -> (col("ont") === "A")),
      updates = Map("membership" ->
        ((col("ont") === "A", Map("ont" -> lit("B"))))))
    assert(st.read("ontologies").select("ont").as[String].collect().toSet
      == Set("B"))
    assert(st.read("membership").select("ont", "cid").as[(String, Long)]
      .collect().toSet == Set(("B", 10L), ("B", 11L), ("B", 20L)))
    assert(r.keySet == Set("ontologies", "membership"))
    // the update recorded CDF images (delete pre + insert post) like any
    // single-table update — the feeds see the reassignment
    assert(st.deletedRowsAt("membership", r("membership")).get.count() == 2L)
    assert(st.changesAt("membership", r("membership")).get.count() == 2L)
    // same table in both halves refuses loudly
    val e = intercept[IllegalArgumentException](st.mutateAll(
      deletes = Map("membership" -> (col("cid") === 0L)),
      updates = Map("membership" ->
        ((col("cid") === 1L, Map("cid" -> lit(2L)))))))
    assert(e.getMessage.contains("one mutation per table"))
  }

  test("mutateAll: crash after intent completes the mixed tx forward") {
    val st = freshStore()
    st.commit("ontologies", Seq(("A", 1L), ("B", 2L)).toDF("ont", "meta"))
    st.commit("membership", Seq(("A", 10L), ("B", 20L)).toDF("ont", "cid"))
    SnapshotStore.testTxnIntentHook =
      () => throw new RuntimeException("simulated crash after intent")
    intercept[RuntimeException](st.mutateAll(
      deletes = Map("ontologies" -> (col("ont") === "A")),
      updates = Map("membership" ->
        ((col("ont") === "A", Map("ont" -> lit("B")))))))
    SnapshotStore.testTxnIntentHook = () => ()
    st.recoverPendingTxns()
    assert(st.read("ontologies").select("ont").as[String].collect().toSet
      == Set("B"))
    assert(st.read("membership").select("ont").as[String].collect().toSet
      == Set("B"))
  }

  test("deleteAll: a crash after the intent rolls the WHOLE cascade forward") {
    val st = freshStore()
    st.commit("concepts", Seq((1L, "a"), (2L, "b")).toDF("cid", "label"))
    st.commit("edges", Seq((10L, 1L), (12L, 2L)).toDF("eid", "cid"))
    val (vc, ve) = (st.latestVersion("concepts").get, st.latestVersion("edges").get)
    SnapshotStore.testTxnIntentHook =
      () => throw new RuntimeException("simulated crash after intent")
    val e = intercept[RuntimeException](st.deleteAll(Map(
      "concepts" -> (col("cid") === 1L), "edges" -> (col("cid") === 1L))))
    SnapshotStore.testTxnIntentHook = () => ()
    assert(e.getMessage.contains("simulated crash"))
    // nothing exposed yet — the crash happened before any pointer moved
    assert(st.latestVersion("concepts").get == vc)
    assert(st.latestVersion("edges").get == ve)
    // the NEXT resolution rolls the intent forward: both halves land
    st.recoverPendingTxns()
    assert(st.read("concepts").select("cid").as[Long].collect().toSet == Set(2L))
    assert(st.read("edges").select("eid").as[Long].collect().toSet == Set(12L))
  }

  test("deleteAll: a crash BEFORE the intent exposes nothing (all-or-none)") {
    val st = freshStore()
    st.commit("concepts", Seq((1L, "a")).toDF("cid", "label"))
    st.commit("edges", Seq((10L, 1L)).toDF("eid", "cid"))
    var fired = false
    SnapshotStore.testRaceHook = () => if (!fired) {
      fired = true; throw new RuntimeException("simulated crash before intent")
    }
    val e = intercept[RuntimeException](st.deleteAll(Map(
      "concepts" -> (col("cid") === 1L), "edges" -> (col("cid") === 1L))))
    SnapshotStore.testRaceHook = () => ()
    assert(e.getMessage.contains("simulated crash"))
    st.recoverPendingTxns() // nothing to roll forward
    assert(st.read("concepts").count() == 1L, "no half-cascade exposed")
    assert(st.read("edges").count() == 1L)
  }

  /** Intent files left in the store's `_txn/` directory. */
  private def pendingIntentFiles(root: String): Seq[String] = {
    val d = java.nio.file.Paths.get(root, "_txn")
    if (!java.nio.file.Files.isDirectory(d)) Nil
    else {
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".json")).toSeq
      finally s.close()
    }
  }

  private def ids(st: SnapshotStore, table: String): Seq[Long] =
    st.read(table).select("id").as[Long].collect().sorted.toSeq

  test("a relink refusal in a multi-table append discards every candidate: nothing exposed, no orphan") {
    val st = freshStore()
    st.append("a", Seq(1L).toDF("id"))
    st.append("b", Seq(1L).toDF("id"))
    val rows = Map(
      "a" -> Seq((2L, "two")).toDF("id", "x"),
      "b" -> Seq(2L).toDF("id"))
    val prep = st.appendAllPrepare(rows)
    // a sibling adds the same column to `a` with another type: a's
    // candidate can never relink onto that head
    new SnapshotStore(spark, st.root).append("a", Seq((3L, 3)).toDF("id", "x"))
    intercept[IllegalArgumentException](st.appendAllCommit(prep, rows))
    assert(orphanDirs(st.root, "a").isEmpty, s"a: ${orphanDirs(st.root, "a")}")
    assert(orphanDirs(st.root, "b").isEmpty,
      s"b's candidate outlived the refusal: ${orphanDirs(st.root, "b")}")
    assert(ids(st, "a") == Seq(1L, 3L), "only the sibling's append exposed")
    assert(ids(st, "b") == Seq(1L), "b's half not exposed")
  }

  test("a crash after the intent rolls every multi-table writer forward: intent gone, no orphan") {
    // each writer over a(id) = b(id) = {1, 2}, and the ids each table
    // holds once the transaction is rolled forward
    val writers: Seq[(String, SnapshotStore => Any, Map[String, Set[Long]])] = Seq(
      ("appendAll", _.appendAll(Map(
        "a" -> Seq(3L).toDF("id"), "b" -> Seq(3L).toDF("id"))),
        Map("a" -> Set(1L, 2L, 3L), "b" -> Set(1L, 2L, 3L))),
      ("appendAllSerialized", st => st.appendAllSerialized(Map(
        "a" -> Seq(3L).toDF("id"), "b" -> Seq(3L).toDF("id")),
        Map("a" -> st.latestVersion("a"), "b" -> st.latestVersion("b"))),
        Map("a" -> Set(1L, 2L, 3L), "b" -> Set(1L, 2L, 3L))),
      ("deleteAll", _.deleteAll(Map(
        "a" -> (col("id") === 1L), "b" -> (col("id") === 1L))),
        Map("a" -> Set(2L), "b" -> Set(2L))),
      ("mutateAll", _.mutateAll(
        deletes = Map("a" -> (col("id") === 1L)),
        updates = Map("b" -> ((col("id") === 1L, Map("id" -> lit(9L)))))),
        Map("a" -> Set(2L), "b" -> Set(2L, 9L))))
    writers.foreach { case (name, write, expected) =>
      val st = freshStore()
      st.commit("a", Seq(1L, 2L).toDF("id"))
      st.commit("b", Seq(1L, 2L).toDF("id"))
      val before = Seq("a", "b").map(t => t -> st.latestVersion(t)).toMap
      SnapshotStore.testTxnIntentHook =
        () => throw new RuntimeException("simulated crash after intent")
      val e = try intercept[RuntimeException](write(st))
        finally SnapshotStore.testTxnIntentHook = () => ()
      assert(e.getMessage.contains("simulated crash"), name)
      assert(Seq("a", "b").forall(t => st.latestVersion(t) == before(t)),
        s"$name: a pointer moved before the crash")
      assert(pendingIntentFiles(st.root).size == 1, s"$name: the intent landed")
      val fresh = new SnapshotStore(spark, st.root)
      expected.foreach { case (t, want) =>
        assert(ids(fresh, t).toSet == want, s"$name: $t rolled forward")
      }
      assert(pendingIntentFiles(st.root).isEmpty, s"$name: intent removed")
      Seq("a", "b").foreach(t => assert(orphanDirs(st.root, t).isEmpty,
        s"$name: orphaned candidate(s) of $t ${orphanDirs(st.root, t)}"))
    }
  }

  test("appendAllSerialized: a guarded table moving before the commit aborts whole: None, nothing exposed, no orphan") {
    val st = freshStore()
    st.append("concepts", Seq(1L).toDF("id"))
    st.append("epoch_log", Seq(1L).toDF("id"))
    val readSet = Map("concepts" -> st.latestVersion("concepts"))
    val epochBefore = st.latestVersion("epoch_log")
    val sibling = new SnapshotStore(spark, st.root)
    var fired = false
    SnapshotStore.testRaceHook = () => if (!fired) {
      fired = true // after prepare: the guarded table moves off the cut
      sibling.append("concepts", Seq(2L).toDF("id"))
    }
    val r = try st.appendAllSerialized(Map(
        "concepts" -> Seq(3L).toDF("id"), "epoch_log" -> Seq(3L).toDF("id")),
        readSet)
      finally SnapshotStore.testRaceHook = () => ()
    assert(fired, "the race hook must fire between prepare and commit")
    assert(r.isEmpty, "a serialization conflict commits nothing")
    assert(ids(st, "concepts") == Seq(1L, 2L), "only the sibling's row")
    assert(st.latestVersion("epoch_log") == epochBefore, "epoch_log untouched")
    Seq("concepts", "epoch_log").foreach(t =>
      assert(orphanDirs(st.root, t).isEmpty, s"$t: ${orphanDirs(st.root, t)}"))
  }

  test("appendAllSerialized: a stale un-guarded table relinks above the sibling and keeps its rows") {
    val st = freshStore()
    st.append("concepts", Seq(1L).toDF("id"))
    st.append("epoch_log", Seq(1L).toDF("id"))
    val readSet = Map("concepts" -> st.latestVersion("concepts"))
    val sibling = new SnapshotStore(spark, st.root)
    var siblingV = Option.empty[Long]
    SnapshotStore.testRaceHook = () => if (siblingV.isEmpty)
      siblingV = Some(sibling.append("epoch_log", Seq(2L).toDF("id")))
    val r = try st.appendAllSerialized(Map(
        "concepts" -> Seq(3L).toDF("id"), "epoch_log" -> Seq(3L).toDF("id")),
        readSet)
      finally SnapshotStore.testRaceHook = () => ()
    assert(siblingV.isDefined, "the race hook must fire between prepare and commit")
    val won = r.getOrElse(fail("an un-guarded sibling append must not abort"))
    assert(won("epoch_log") > siblingV.get &&
      st.baseOf("epoch_log", won("epoch_log")).contains(siblingV.get),
      "epoch_log's candidate relinked onto the sibling's head")
    assert(ids(st, "epoch_log") == Seq(1L, 2L, 3L), "sibling's row kept")
    assert(ids(st, "concepts") == Seq(1L, 3L))
    Seq("concepts", "epoch_log").foreach(t =>
      assert(orphanDirs(st.root, t).isEmpty, s"$t: ${orphanDirs(st.root, t)}"))
  }

  test("a legacy append relinking over a winning adoptFieldIds restamps its files") {
    // The adoption-race corner the concurrent fuzz caught: an append
    // WRITTEN against the legacy (ID-less) base relinks over a winning
    // adoptFieldIds — its parquet carries no field ids, the new pinned
    // schema demands them, and Spark's ID-matched reader refuses the
    // whole file. The relink restamp must treat ABSENT ids as divergent
    // and rewrite the unexposed delta stamped.
    val st = freshStore()
    st.append("t", Seq((1L, 2L)).toDF("k", "v"))
    stripFieldIds(st.root, "t") // the pre-field-id store
    assert(!SnapshotStore.schemaHasFieldIds(st.snapshotSchema("t")))
    val legacyBase = st.latestVersion("t")
    st.adoptFieldIds("t") // the adoption wins first
    // the racing legacy append: resolved base predates the adoption
    st.appendFrom("t", Seq((2L, 4L)).toDF("k", "v"), legacyBase)
    assert(SnapshotStore.schemaHasFieldIds(st.snapshotSchema("t")),
      "the relinked chain stays ID'd")
    // the read would throw FAILED_READ_FILE without the restamp
    assert(st.read("t").select("k", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (2L, 4L)))
  }

  test("epoch clock integration: committed version drives Freshness") {
    val st = freshStore()
    st.commit("events", Seq(1L).toDF("event_id"))
    val fresh = new graft.core.Freshness(() => st.latestVersion("events").getOrElse(0L))
    var computes = 0
    fresh.register("totals") { computes += 1; st.read("events").groupBy().count() }
    fresh.get("totals"); fresh.get("totals")
    assert(computes == 1) // cached within the epoch
    st.commit("events", Seq(1L, 2L).toDF("event_id"))
    assert(fresh.get("totals").head().getLong(0) == 2L)
    assert(computes == 2) // clock advanced → recompute
  }

  test("mutateAll re-bases over pure-append conflicts: appenders cannot starve a cascade") {
    val root = java.nio.file.Files.createTempDirectory("graft-txreb").toString
    val st = new SnapshotStore(spark, root)
    st.commit("concepts", Seq((1L, "a"), (2L, "b")).toDF("cid", "label"))
    st.commit("edges", Seq((10L, 1L), (12L, 2L)).toDF("eid", "cid"))
    st.commit("marks", Seq(99L).toDF("cid")) // no match at base
    var fired = false
    SnapshotStore.testRaceHook = () => if (!fired) {
      fired = true // a sibling ingest lands BETWEEN prepare and commit:
      // edge 13 belongs to the concept being cascaded (the rebase must
      // scan the delta and catch it), and marks gains its FIRST match
      // (the no-candidate table must re-prepare against the new head)
      new SnapshotStore(spark, root).appendAll(Map(
        "concepts" -> Seq((3L, "c")).toDF("cid", "label"),
        "edges" -> Seq((13L, 1L), (30L, 3L)).toDF("eid", "cid"),
        "marks" -> Seq(3L).toDF("cid")))
    }
    try {
      // maxRetries = 0: the old discard-and-re-prepare posture THREW
      // here; the pure-append rebase path must commit without a retry
      val r = st.deleteAll(Map(
        "concepts" -> (col("cid") === 1L),
        "edges" -> (col("cid") === 1L),
        "marks" -> (col("cid") === 3L)), maxRetries = 0)
      assert(r.keySet == Set("concepts", "edges", "marks"))
    } finally SnapshotStore.testRaceHook = () => ()
    assert(st.read("concepts").select("cid").as[Long].collect().toSet
      == Set(2L, 3L))
    // BOTH edges of concept 1 are gone — 10 from the prepared candidate,
    // 13 from the rebase's delta scan
    assert(st.read("edges").select("eid").as[Long].collect().toSet
      == Set(12L, 30L))
    assert(st.read("marks").select("cid").as[Long].collect().toSet
      == Set(99L), "the appended match on the no-candidate table deletes")
  }

  test("a mid-race CHECK refuses a transactional update's rebase loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft-txck").toString
    val st = new SnapshotStore(spark, root)
    st.commit("ontologies", Seq(("A", 1L)).toDF("ont", "meta"))
    st.commit("membership", Seq(("A", 10L)).toDF("ont", "cid"))
    var fired = false
    SnapshotStore.testRaceHook = () => if (!fired) {
      fired = true
      new SnapshotStore(spark, root)
        .addCheckConstraint("ontologies", "meta_small", "meta < 100")
    }
    try {
      val e = intercept[IllegalArgumentException](st.mutateAll(
        updates = Map("ontologies" -> ((col("ont") === "A",
          Map("meta" -> org.apache.spark.sql.functions.lit(500L))))),
        deletes = Map("membership" -> (col("cid") === 10L))))
      assert(e.getMessage.contains("meta_small"))
    } finally SnapshotStore.testRaceHook = () => ()
    // NOTHING committed — the cascade's delete half must not survive its
    // update half's refusal
    assert(st.read("ontologies").select("meta").as[Long].collect().toSeq
      == Seq(1L))
    assert(st.read("membership").count() == 1L)
  }

  test("a CHECK landing mid-race cannot be bypassed by a mutation's rebase") {
    // the mutation twin of the r14 append-relink hole: an
    // addCheckConstraint commit carries no tombstones and no DVs, so the
    // losing update classifies it as a PURE-APPEND conflict and re-bases
    // — which must re-validate the post-images against the grown
    // predicate, or the table reports an ENFORCED constraint its rows
    // violate
    val root = java.nio.file.Files.createTempDirectory("graft-ckrace").toString
    val st = new SnapshotStore(spark, root)
    st.commit("t", Seq((1L, 5L), (2L, 7L)).toDF("id", "v"))
    var fired = false
    SnapshotStore.testRaceHook = () => if (!fired) {
      fired = true // set FIRST: addCheckConstraint fires the hook too
      new SnapshotStore(spark, root).addCheckConstraint("t", "v_small", "v < 100")
    }
    try {
      val e = intercept[IllegalArgumentException](
        st.update("t", col("id") === 1L,
          Map("v" -> org.apache.spark.sql.functions.lit(500L))))
      assert(e.getMessage.contains("v_small"))
    } finally SnapshotStore.testRaceHook = () => ()
    // table unchanged; the constraint's promise holds
    assert(st.read("t").select("v").as[Long].collect().toSet == Set(5L, 7L))
    // …and a mid-race constraint the post-images SATISFY re-bases through
    fired = false
    SnapshotStore.testRaceHook = () => if (!fired) {
      fired = true
      new SnapshotStore(spark, root).addCheckConstraint("t", "v_pos", "v > 0")
    }
    try st.update("t", col("id") === 1L,
      Map("v" -> org.apache.spark.sql.functions.lit(50L)))
    finally SnapshotStore.testRaceHook = () => ()
    assert(st.read("t").select("v").as[Long].collect().toSet == Set(50L, 7L))
  }

  test("a commit between a crashed txn intent and recovery re-bases onto it") {
    // The intent IS the commit point — but pointers move later. A
    // sibling committing in that window must see the POST-transaction
    // head (its CAS applies the pending intent first), or the eventual
    // roll-forward would move the pointer past the sibling's version to
    // a chain that does not contain it: a silently LOST commit, and
    // with two tables a torn cascade.
    val st = freshStore()
    st.commit("t", Seq(1L).toDF("k"))
    st.commit("u", Seq(10L).toDF("k"))
    SnapshotStore.testTxnIntentHook =
      () => throw new RuntimeException("simulated crash after intent")
    intercept[RuntimeException](st.appendAll(Map(
      "t" -> Seq(2L).toDF("k"), "u" -> Seq(20L).toDF("k"))))
    SnapshotStore.testTxnIntentHook = () => ()
    // the sibling lands BEFORE any recovery ran
    st.append("t", Seq(3L).toDF("k"))
    st.recoverPendingTxns()
    assert(st.read("t").select("k").as[Long].collect().toSet
      == Set(1L, 2L, 3L), "the sibling's append must survive the roll-forward")
    assert(st.read("u").select("k").as[Long].collect().toSet
      == Set(10L, 20L))
  }

  test("snapshotAll: a consistent cut; readAll pins every table to it") {
    val st = freshStore()
    st.commit("concepts", Seq((1L, "a")).toDF("cid", "label"))
    st.commit("edges", Seq((10L, 1L)).toDF("eid", "cid"))
    val cut = st.snapshotAll(Seq("edges", "concepts", "edges"))
    assert(cut == Map("concepts" -> st.latestVersion("concepts").get,
      "edges" -> st.latestVersion("edges").get))
    val dfs = st.readAll(Seq("concepts", "edges"))
    // mutate AFTER the cut: the pinned frames still read the cut's rows
    st.appendAll(Map(
      "concepts" -> Seq((2L, "b")).toDF("cid", "label"),
      "edges" -> Seq((20L, 2L)).toDF("eid", "cid")))
    assert(dfs("concepts").select("cid").as[Long].collect().toSet == Set(1L))
    assert(dfs("edges").select("eid").as[Long].collect().toSet == Set(10L))
    val e = intercept[IllegalArgumentException](
      st.snapshotAll(Seq("concepts", "nope")))
    assert(e.getMessage.contains("no committed version"))
  }

  test("snapshotAll rolls a crashed txn intent forward: never the torn cut") {
    val st = freshStore()
    st.commit("concepts", Seq((1L, "a")).toDF("cid", "label"))
    st.commit("edges", Seq((10L, 1L)).toDF("eid", "cid"))
    SnapshotStore.testTxnIntentHook =
      () => throw new RuntimeException("simulated crash after intent")
    intercept[RuntimeException](st.deleteAll(Map(
      "concepts" -> (col("cid") === 1L), "edges" -> (col("cid") === 1L))))
    SnapshotStore.testTxnIntentHook = () => ()
    // the FIRST call after the crash (no explicit recovery) must include
    // the intent's versions on BOTH tables — all of the txn, not half
    val cut = st.snapshotAll(Seq("concepts", "edges"))
    assert(st.readAt("concepts", cut("concepts")).count() == 0L)
    assert(st.readAt("edges", cut("edges")).count() == 0L)
  }

  test("snapshotAll locked fallback (maxRetries=0) returns the same cut") {
    val st = freshStore()
    st.commit("concepts", Seq((1L, "a")).toDF("cid", "label"))
    st.commit("edges", Seq((10L, 1L)).toDF("eid", "cid"))
    assert(st.snapshotAll(Seq("concepts", "edges"), maxRetries = 0)
      == st.snapshotAll(Seq("concepts", "edges")))
    // fallback under a crashed intent: routes back through recovery, then
    // returns the rolled-forward cut
    SnapshotStore.testTxnIntentHook =
      () => throw new RuntimeException("simulated crash after intent")
    intercept[RuntimeException](st.deleteAll(Map(
      "concepts" -> (col("cid") === 1L), "edges" -> (col("cid") === 1L))))
    SnapshotStore.testTxnIntentHook = () => ()
    val cut = st.snapshotAll(Seq("concepts", "edges"), maxRetries = 0)
    assert(st.readAt("concepts", cut("concepts")).count() == 0L)
    assert(st.readAt("edges", cut("edges")).count() == 0L)
  }
}
