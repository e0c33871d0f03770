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
  * The choice between a driver-resident structure and the Spark engines
  * has one owner: an `AccelCache` is constructed, and `probeAndLoad` is
  * called, only in `graph/GraphOps.scala`. */
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

  /** (pattern, the one member allowed to contain it, what it is). */
  private val txnProtocol = Seq(
    ("""(?<!def )\bwriteTxnIntent\s*\(""".r, "publishTxn", "writeTxnIntent call"),
    ("""\bFiles\s*\.\s*(?:list|walk|find|newDirectoryStream)\s*\(\s*txnDir\b""".r,
      "pendingIntents", "_txn/ listing"),
    ("\"_txn".r, "txnDir", "_txn/ path"))

  /** A member `def` of a class or object: declared at two-space indent. */
  private val memberDef =
    """^  (?:@\w+\s+)*(?:(?:private|protected)(?:\[\w+\])?\s+|(?:override|final|lazy|implicit)\s+)*def\s+(\w+)""".r

  /** (1-based line, what) for each txn-protocol step outside its owner —
    * the member `def` a line sits in is the last one declared above it. */
  private def txnProtocolBreaches(lines: Seq[String]): Seq[(Int, String)] = {
    var member = ""
    lines.zipWithIndex.flatMap { case (line, i) =>
      memberDef.findFirstMatchIn(line).foreach(m => member = m.group(1))
      code(line).toSeq.flatMap(c => txnProtocol.collect {
        case (re, owner, what) if member != owner &&
            re.findFirstIn(c).isDefined => (i + 1, what)
      })
    }
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
    assert(txnProtocolBreaches(src).map(_._1) == Seq(8, 9, 11, 12))
  }

  test("src/main/scala writes and lists _txn/ intents in one place each") {
    val offenders = mainSources().flatMap { f =>
      txnProtocolBreaches(linesOf(f)).map { case (n, what) => s"$f:$n ($what)" }
    }
    assert(offenders.isEmpty,
      "txn intents are written only by publishTxn and listed only by " +
        s"pendingIntents: ${offenders.mkString(", ")}")
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
}
