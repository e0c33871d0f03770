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
  * `file:line`. */
class SourceGuardSpec extends AnyFunSuite {
  private val lazyCheckpoint = Seq(
    """\b(?:localCheckpoint|checkpoint)\s*\(\s*\)""",
    """\b(?:localCheckpoint|checkpoint)\s*\(\s*(?:eager\s*=\s*)?false\s*\)""",
    """\.(?:localCheckpoint|checkpoint)\b(?!\s*\()""").map(_.r)

  /** 1-based numbers of the lines that call a lazy checkpoint; comment
    * lines and trailing `//` comments are prose, not calls. */
  private def lazyCheckpointLines(lines: Seq[String]): Seq[Int] =
    lines.zipWithIndex.collect {
      case (line, i) if {
        val t = line.trim
        val code = if (t.contains("//")) t.substring(0, t.indexOf("//")) else t
        !t.startsWith("*") && !t.startsWith("/*") &&
          lazyCheckpoint.exists(_.findFirstIn(code).isDefined)
      } => i + 1
    }

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
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val w = java.nio.file.Files.walk(root)
    val files = try w.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".scala")).toSeq.sorted
    finally w.close()
    assert(files.nonEmpty)
    val offenders = files.flatMap { f =>
      lazyCheckpointLines(java.nio.file.Files.readAllLines(f).asScala.toSeq)
        .map(n => s"$f:$n")
    }
    assert(offenders.isEmpty,
      s"lazy checkpoint(s) — write localCheckpoint(true): ${offenders.mkString(", ")}")
  }
}
