package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards over `src/main/scala` that no compiler check
  * covers.
  *
  * Lazy checkpoints stay banned: a lazy checkpoint first materialized on
  * a broadcast-exchange thread deadlocks the JVM (the Dedup.scala note).
  * `RDD.checkpoint()`/`localCheckpoint()` are lazy while the Dataset
  * forms with the same spelling are eager, and a line scan cannot tell an
  * RDD from a Dataset — so every checkpoint spells its eagerness out as
  * `(true)`, and the empty, `false` and bare forms fail here with
  * `file:line`.
  *
  * The snapshot store's multi-table transactions keep one writer and one
  * reader of their `_txn/` intents: `writeTxnIntent` is called only from
  * `publishTxn`, `_txn/` is listed only in `pendingIntents` (intent names
  * are random, so reaching an intent means listing the directory), and
  * the `"_txn"` name is spelled only in `txnDir`. A copy of either
  * protocol half elsewhere fails here with `file:line`.
  *
  * The store's row mutations run one commit loop. `casAdvance` is called
  * only from `publishIf` and `occAppendCommit`; `mutationCandidate` and
  * `rebaseMutationCandidate` only from `mutateAll`, which single-table
  * `delete` and `update` call; and the chain-vector fold threshold
  * `dvChainFoldRows` is read only in the one backstop helper,
  * `foldVectorsOverCap`. A second mutation loop or backstop fails here
  * with `file:line`.
  *
  * The row mutations' write policies have one owner each, which
  * `mutationCandidate` and `merge` both call: the deletion-vector split
  * (`DvMaxRowsPerMutation` and the `<= dvMaxFraction` partition) lives
  * only in `dvSplit`, and `bucketClaimOf(` is called only by
  * `mutationCommit` and by the steps that bucket-attribute files outside
  * a candidate commit (`rebaseMutationCandidate`'s extra rewrite files,
  * `compactCandidate`, `compactVectored`). A copy of either fails here
  * with `file:line`.
  *
  * The choice between a driver-resident structure and the Spark engines
  * has one owner: an `AccelCache` is constructed, and `probeAndLoad` is
  * called, only in `graph/GraphOps.scala`.
  *
  * An append records its change set one way: the store copies the delta
  * files it wrote into `_changes/`. A `commitWith(` call handed the same
  * identifier as data and as change set (`Some(x), Some(x)`) would
  * evaluate the delta twice, and fails here with `file:line`.
  *
  * The engine runs its Spark work on the caller's thread, so a caller's
  * job group, SQL execution and trace spans cover it. The one exception
  * is the snapshot store's multi-table append, which writes each table's
  * candidate on its own thread under the caller's captured local
  * properties: a thread, executor or `Future` is created only in
  * `SnapshotStore.appendAllPrepare`, and one anywhere else fails here
  * with `file:line`.
  *
  * Every main gets its session from `GraftSession`, so the plans the
  * oracle gates, the bench times and the inspector prints share one
  * configuration: a `SparkSession.builder` or `.getOrCreate(` anywhere
  * else in `src/main/scala` fails here with `file:line`. */
class SourceGuardSpec extends AnyFunSuite {
  private val lazyCheckpoint = Seq(
    """\b(?:localCheckpoint|checkpoint)\s*\(\s*\)""",
    """\b(?:localCheckpoint|checkpoint)\s*\(\s*(?:eager\s*=\s*)?false\s*\)""",
    """\.(?:localCheckpoint|checkpoint)\b(?!\s*\()""").map(_.r)

  /** The code on `line`: None for a comment line, a trailing `//`
    * comment cut off — prose, not calls. */
  private def code(line: String): Option[String] = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) None
    else Some(if (t.contains("//")) t.substring(0, t.indexOf("//")) else t)
  }

  /** 1-based numbers of the lines that call a lazy checkpoint. */
  private def lazyCheckpointLines(lines: Seq[String]): Seq[Int] =
    lines.zipWithIndex.collect {
      case (line, i) if code(line).exists(c =>
        lazyCheckpoint.exists(_.findFirstIn(c).isDefined)) => i + 1
    }

  /** (pattern, the members allowed to contain it, what it is). */
  private type Protocol = Seq[(scala.util.matching.Regex, Set[String], String)]

  private val txnProtocol: Protocol = Seq(
    ("""(?<!def )\bwriteTxnIntent\s*\(""".r, Set("publishTxn"), "writeTxnIntent call"),
    ("""\bFiles\s*\.\s*(?:list|walk|find|newDirectoryStream)\s*\(\s*txnDir\b""".r,
      Set("pendingIntents"), "_txn/ listing"),
    ("\"_txn".r, Set("txnDir"), "_txn/ path"))

  private val mutationProtocol: Protocol = Seq(
    ("""(?<!def )\bcasAdvance\s*\(""".r, Set("publishIf", "occAppendCommit"),
      "casAdvance call"),
    ("""(?<!def )\b(?:rebaseMutationCandidate|mutationCandidate)\s*\(""".r,
      Set("mutateAll"), "mutation candidate step"),
    ("""(?<!var )\bdvChainFoldRows\b""".r, Set("foldVectorsOverCap"),
      "vector backstop"))

  private val mutationPolicy: Protocol = Seq(
    ("""(?<!val )\bDvMaxRowsPerMutation\b|<=\s*dvMaxFraction\b""".r, Set("dvSplit"),
      "DV policy split"),
    ("""(?<!def )\bbucketClaimOf\s*\(""".r,
      Set("mutationCommit", "rebaseMutationCandidate", "compactCandidate",
        "compactVectored"),
      "bucket-claimed commit"))

  /** A member `def` of a class or object: declared at two-space indent. */
  private val memberDef =
    """^  (?:@\w+\s+)*(?:(?:private|protected)(?:\[\w+\])?\s+|(?:override|final|lazy|implicit)\s+)*def\s+(\w+)""".r

  /** The member `def` each line sits in: the last one declared above it. */
  private def members(lines: Seq[String]): Seq[String] =
    lines.scanLeft("")((m, line) =>
      memberDef.findFirstMatchIn(line).map(_.group(1)).getOrElse(m)).tail

  /** (1-based line, what) for each protocol step outside its owners. */
  private def protocolBreaches(protocol: Protocol, lines: Seq[String])
      : Seq[(Int, String)] =
    lines.zip(members(lines)).zipWithIndex.flatMap { case ((line, member), i) =>
      code(line).toSeq.flatMap(c => protocol.collect {
        case (re, owners, what) if !owners(member) &&
            re.findFirstIn(c).isDefined => (i + 1, what)
      })
    }

  private def mainSources(): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val w = java.nio.file.Files.walk(root)
    val files = try w.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".scala")).toSeq.sorted
    finally w.close()
    assert(files.nonEmpty)
    files
  }

  private def linesOf(f: java.nio.file.Path): Seq[String] =
    java.nio.file.Files.readAllLines(f).asScala.toSeq

  test("the lazy-checkpoint matcher flags every lazy form and nothing eager") {
    val flagged = Seq(
      "df.localCheckpoint()", "df.localCheckpoint(false)",
      "df.localCheckpoint(eager = false)", "rdd.checkpoint()",
      "df.checkpoint(false)", "df.checkpoint( eager=false )",
      "rdd.localCheckpoint", "val y = x.checkpoint")
    val passed = Seq(
      "df.localCheckpoint(true)", "df.checkpoint(eager = true)",
      "// a lazy localCheckpoint() deadlocks", "  * RDDCheckpointData.checkpoint() then",
      "df.localCheckpoint(true) // never localCheckpoint()",
      "opts.checkpointLocation", "val checkpointEvery = 1")
    assert(lazyCheckpointLines(flagged) == flagged.indices.map(_ + 1))
    assert(lazyCheckpointLines(passed).isEmpty)
  }

  test("src/main/scala calls no lazy checkpoint") {
    val offenders = mainSources().flatMap { f =>
      lazyCheckpointLines(linesOf(f)).map(n => s"$f:$n")
    }
    assert(offenders.isEmpty,
      s"lazy checkpoint(s) — write localCheckpoint(true): ${offenders.mkString(", ")}")
  }

  test("the txn-protocol matcher flags each step outside its owner and nothing else") {
    val src = Seq(
      "  private def publishTxn(v: Map[String, Long]): Unit = {",
      "    val intent = writeTxnIntent(v)",
      "  private[graft] def writeTxnIntent(versions: Map[String, Long]): Path = {",
      "  private def pendingIntents(): Seq[Int] = {",
      "    val s = Files.list(txnDir)",
      "  private def txnDir: Path = Paths.get(root, \"_txn\")",
      "  def appendAll(): Unit = {",
      "    val intent = writeTxnIntent(cands)",
      "    val s = Files.list(txnDir)",
      "    // writeTxnIntent(x) and Files.list(txnDir) in prose",
      "    Files.walk(Paths.get(root, \"_txn\"))",
      "    def inner(): Path = writeTxnIntent(v)")
    assert(protocolBreaches(txnProtocol, src).map(_._1) == Seq(8, 9, 11, 12))
  }

  test("src/main/scala writes and lists _txn/ intents in one place each") {
    val offenders = mainSources().flatMap { f =>
      protocolBreaches(txnProtocol, linesOf(f)).map { case (n, what) => s"$f:$n ($what)" }
    }
    assert(offenders.isEmpty,
      "txn intents are written only by publishTxn and listed only by " +
        s"pendingIntents: ${offenders.mkString(", ")}")
  }

  test("the mutation-loop matcher flags each step outside its owners and nothing else") {
    val src = Seq(
      "  private def publishIf(table: String, cand: Long,",
      "    if (casAdvance(table, cand, expectedHead)) Some(cand)",
      "  @tailrec private def occAppendCommit(table: String, base: Long): Long =",
      "    if (casAdvance(table, myVersion, myBase)) myVersion",
      "  private def casAdvance(table: String, next: Long,",
      "  def mutateAll(",
      "      mutationCandidate(t, bases(t), pred, op, dvMaxFraction)(",
      "          val r = rebaseMutationCandidate(t, c, bases(t),",
      "  private def foldVectorsOverCap(table: String): Unit =",
      "          dvChainFoldRows) compactVectored(table)",
      "  private[graft] var dvChainFoldRows: Long = 1L",
      "  def delete(table: String): Long = {",
      "    if (casAdvance(table, cand, Some(base))) Some(cand)",
      "    mutationCandidate(table, v, predicate, op, dvMaxFraction)(",
      "    // rebaseMutationCandidate(t) and casAdvance( in prose",
      "    if (dvInChain(table, v).size > dvChainFoldRows) compactVectored(table)",
      "  def merge(table: String): Long = {",
      "    def casLoop(): Boolean = casAdvance(table, c, b)",
      "    val c = rebaseMutationCandidate(table, c, b, h, p, op, rw, cs)")
    assert(protocolBreaches(mutationProtocol, src).map(_._1) == Seq(13, 14, 16, 18, 19))
  }

  test("src/main/scala runs row mutations through one commit loop and one vector backstop") {
    val offenders = mainSources().flatMap { f =>
      protocolBreaches(mutationProtocol, linesOf(f)).map { case (n, what) => s"$f:$n ($what)" }
    }
    assert(offenders.isEmpty,
      "casAdvance belongs to publishIf/occAppendCommit, mutation candidates " +
        s"to mutateAll, the vector backstop to foldVectorsOverCap: ${offenders.mkString(", ")}")
    // and each step is really where the guard expects it
    val store = linesOf(java.nio.file.Paths.get(
      "src", "main", "scala", "graft", "core", "SnapshotStore.scala"))
    mutationProtocol.foreach { case (re, owners, what) =>
      assert(store.zip(members(store)).exists { case (line, member) =>
        owners(member) && code(line).exists(re.findFirstIn(_).isDefined)
      }, s"no $what in ${owners.mkString(" or ")}")
    }
  }

  test("the mutation-policy matcher flags each step outside its owners and nothing else") {
    val src = Seq(
      "  private def dvSplit(table: String, live: Seq[Path],",
      "      t > 0 && c.toDouble / t <= dvMaxFraction)",
      "    if (dv.iterator.map(_._2).sum > SnapshotStore.DvMaxRowsPerMutation)",
      "  private def mutationCommit(table: String, v: Long, schema: StructType,",
      "    val (bucketProps, bucketed) = bucketClaimOf(table, v)",
      "  private def bucketClaimOf(table: String, v: Long)",
      "  val DvMaxRowsPerMutation: Long = 1L << 22",
      "  def merge(table: String): Long = {",
      "          t > 0 && c.toDouble / t <= dvMaxFraction)",
      "      if (dvEligible.iterator.map(_._3).sum > SnapshotStore.DvMaxRowsPerMutation) {",
      "        val (bucketProps, bucketed) = bucketClaimOf(table, v)",
      "    // bucketClaimOf(table, v) and DvMaxRowsPerMutation in prose",
      "      dvMaxFraction: Double = SnapshotStore.DefaultDvMaxFraction): Long = {",
      "  private def mutationCandidate(table: String, v: Long,",
      "            dvMaxFraction > 0 && liveTotals.get(k).exists(t =>",
      "          if (dvEligible.iterator.map(_._2).sum >",
      "              SnapshotStore.DvMaxRowsPerMutation) {")
    assert(protocolBreaches(mutationPolicy, src).map(_._1) == Seq(9, 10, 11, 17))
  }

  test("src/main/scala gives the DV split and the bucket-claimed mutation commit one owner each") {
    val offenders = mainSources().flatMap { f =>
      protocolBreaches(mutationPolicy, linesOf(f)).map { case (n, what) => s"$f:$n ($what)" }
    }
    assert(offenders.isEmpty,
      "the DV policy split belongs to dvSplit, a row mutation's bucket-claimed " +
        s"commit to mutationCommit: ${offenders.mkString(", ")}")
    val store = linesOf(java.nio.file.Paths.get(
      "src", "main", "scala", "graft", "core", "SnapshotStore.scala"))
    mutationPolicy.foreach { case (re, owners, what) =>
      assert(store.zip(members(store)).exists { case (line, member) =>
        owners(member) && code(line).exists(re.findFirstIn(_).isDefined)
      }, s"no $what in ${owners.mkString(" or ")}")
    }
  }

  /** An accelerator-cache construction or a `probeAndLoad` call. */
  private val residencyChoice =
    """\bnew\s+AccelCache\b|(?<!def )\bprobeAndLoad\s*[\[(]""".r

  /** 1-based numbers of the lines that make a residency choice. */
  private def residencyChoiceLines(lines: Seq[String]): Seq[Int] =
    lines.zipWithIndex.collect {
      case (line, i) if code(line).exists(residencyChoice.findFirstIn(_).isDefined) => i + 1
    }

  test("the residency matcher flags cache constructions and probeAndLoad calls only") {
    val flagged = Seq(
      "  private val graphs = new AccelCache[InMemoryGraph](8, 32,",
      "    GraphOps.probeAndLoad(edges, t, GraphOps.graphs) match {",
      "    probeAndLoad[ConceptTable](concepts, budget, tables)")
    val passed = Seq(
      "  private def probeAndLoad[G](input: DataFrame, accelThreshold: Long,",
      "  private[graph] final class AccelCache[G](maxLoaded: Int, maxOver: Int,",
      "    // probeAndLoad(x) in prose", "  * a new AccelCache per kind",
      "    GraphOps.ensureLoaded(edges, accelThreshold) match {")
    assert(residencyChoiceLines(flagged) == flagged.indices.map(_ + 1))
    assert(residencyChoiceLines(passed).isEmpty)
  }

  test("src/main/scala chooses resident or Spark in graph/GraphOps.scala only") {
    val owner = java.nio.file.Paths.get("src", "main", "scala", "graft", "graph", "GraphOps.scala")
    val files = mainSources()
    assert(files.contains(owner))
    val offenders = files.filter(_ != owner).flatMap { f =>
      residencyChoiceLines(linesOf(f)).map(n => s"$f:$n")
    }
    assert(offenders.isEmpty,
      s"AccelCache and probeAndLoad belong to GraphOps: ${offenders.mkString(", ")}")
    assert(residencyChoiceLines(linesOf(owner)).nonEmpty)
  }

  /** A `commitWith(` call whose data and change set are one identifier. */
  private val doubleEvaluatedAppend =
    """\bcommitWith\s*\(.*\bSome\((\w+)\)\s*,\s*(?:changeSet\s*=\s*)?Some\(\1\)""".r

  /** 1-based numbers of the lines that write one frame twice. */
  private def doubleEvaluatedAppendLines(lines: Seq[String]): Seq[Int] =
    lines.zipWithIndex.collect {
      case (line, i) if code(line).exists(doubleEvaluatedAppend.findFirstIn(_).isDefined) => i + 1
    }

  test("the change-set matcher flags one frame passed as data and change set only") {
    val flagged = Seq(
      "    val v = commitWith(table, Some(rows), Some(rows), base = base,",
      "      val v = commitWith(t, Some(df),Some(df), base = base,",
      "    commitWith(table, Some(routed), changeSet = Some(routed),")
    val passed = Seq(
      "    val v = commitWith(table, Some(rows), None, base = base,",
      "    commitWith(table, Some(df), changeSet, base = None,",
      "    commitWith(table, Some(df), Some(dfChanges), base = None,",
      "    // commitWith(t, Some(df), Some(df)) in prose",
      "    write(Some(df), Some(df))")
    assert(doubleEvaluatedAppendLines(flagged) == flagged.indices.map(_ + 1))
    assert(doubleEvaluatedAppendLines(passed).isEmpty)
  }

  test("src/main/scala never hands commitWith one frame as data and change set") {
    val offenders = mainSources().flatMap { f =>
      doubleEvaluatedAppendLines(linesOf(f)).map(n => s"$f:$n")
    }
    assert(offenders.isEmpty,
      "an append's change set is a copy of its written files (appendCandidate): " +
        offenders.mkString(", "))
  }

  /** A thread, thread pool, executor or `Future` created. */
  private val concurrency = Seq(
    """\bnew\s+(?:Thread|ForkJoinPool|\w*Executor|CompletableFuture|FutureTask)\b""",
    """\b(?:Executors|ThreadUtils)\s*\.\s*new\w*""",
    """\bCompletableFuture\s*\.\s*(?:supplyAsync|runAsync)\b""",
    """\bExecutionContext\s*\.\s*from\w*""",
    """(?<![\w.])Future\s*(?:\.\s*apply\s*)?[({]""",
    """\bwithThreadLocalCaptured\b""",
    """\.par\b(?!\s*[=(])""").map(_.r)

  /** 1-based numbers of the lines that create a thread outside the
    * member `owner` (None: anywhere). */
  private def concurrencyLines(lines: Seq[String], owner: Option[String]): Seq[Int] =
    lines.zip(members(lines)).zipWithIndex.collect {
      case ((line, member), i) if !owner.contains(member) &&
          code(line).exists(c => concurrency.exists(_.findFirstIn(c).isDefined)) => i + 1
    }

  test("the concurrency matcher flags thread, executor and Future creation outside its owner only") {
    val src = Seq(
      "  private[graft] def appendAllPrepare(rows: Map[String, DataFrame]) = {",
      "    val pool = Executors.newFixedThreadPool(rows.size, (r: Runnable) => {",
      "      val th = new Thread(r, \"graft-append-prepare\")",
      "      t -> SQLExecution.withThreadLocalCaptured(session, pool) {",
      "  def appendAll(rows: Map[String, DataFrame]): Unit = {",
      "    val pool = Executors.newCachedThreadPool()",
      "    new Thread(() => write(t)).start()",
      "    val f = Future { write(t) }",
      "    val g = Future(write(t))(ec)",
      "    CompletableFuture.supplyAsync(() => write(t))",
      "    val ec = ExecutionContext.fromExecutorService(pool)",
      "    rows.par.foreach(write)",
      "    new ForkJoinPool(4)",
      "    new ThreadPoolExecutor(1, 4, 0L, TimeUnit.SECONDS, q)",
      "    SQLExecution.withThreadLocalCaptured(session, pool)(write(t))",
      "    Thread.sleep(backoff)",
      "    private val owner = new ThreadLocal[Option[String]] {",
      "    b.relationFuture.get().value",
      "    spark.read.parquet(dir)",
      "    // new Thread(r) and Future { x } in prose",
      "    val t = Thread.currentThread()")
    assert(concurrencyLines(src, Some("appendAllPrepare")) == (6 to 15))
    assert(concurrencyLines(src, None) == (2 to 4) ++ (6 to 15))
  }

  test("src/main/scala creates threads in SnapshotStore.appendAllPrepare only") {
    val owner = java.nio.file.Paths.get("src", "main", "scala", "graft", "core", "SnapshotStore.scala")
    val files = mainSources()
    assert(files.contains(owner))
    val offenders = files.flatMap { f =>
      concurrencyLines(linesOf(f), Some("appendAllPrepare").filter(_ => f == owner))
        .map(n => s"$f:$n")
    }
    assert(offenders.isEmpty,
      "Spark work runs on the caller's thread; only appendAllPrepare " +
        s"writes side by side: ${offenders.mkString(", ")}")
    assert(concurrencyLines(linesOf(owner), None).nonEmpty,
      "appendAllPrepare no longer writes its tables side by side")
  }

  /** A SparkSession built: a builder chain or its `getOrCreate()`. */
  private val sessionBuilder = """\bSparkSession\s*\.\s*builder\b|\.getOrCreate\s*\(""".r

  /** 1-based numbers of the lines that build a session. */
  private def sessionBuilderLines(lines: Seq[String]): Seq[Int] =
    lines.zipWithIndex.collect {
      case (line, i) if code(line).exists(sessionBuilder.findFirstIn(_).isDefined) => i + 1
    }

  test("the session matcher flags builder chains only") {
    val flagged = Seq(
      "    val spark = SparkSession.builder()",
      "      .getOrCreate()",
      "    configured(SparkSession.builder().master(s\"local[$cpus]\"), cpus).getOrCreate()",
      "    val s = SparkSession .builder.master(\"local[4]\")")
    val passed = Seq(
      "  *   SparkSession.builder().withExtensions(new GraftExtensions)",
      "    // SparkSession.builder() and .getOrCreate() in prose",
      "    val s = SparkSession.active",
      "    val other = spark.newSession()",
      "    SparkSession.getActiveSession.getOrElse(spark)")
    assert(sessionBuilderLines(flagged) == flagged.indices.map(_ + 1))
    assert(sessionBuilderLines(passed).isEmpty)
  }

  test("src/main/scala builds a SparkSession in GraftSession.scala only") {
    val owner = java.nio.file.Paths.get("src", "main", "scala", "graft", "GraftSession.scala")
    val files = mainSources()
    assert(files.contains(owner))
    val offenders = files.filter(_ != owner).flatMap { f =>
      sessionBuilderLines(linesOf(f)).map(n => s"$f:$n")
    }
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.local: ${offenders.mkString(", ")}")
    assert(sessionBuilderLines(linesOf(owner)).nonEmpty)
  }
}
