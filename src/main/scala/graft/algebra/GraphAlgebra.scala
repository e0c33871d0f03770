package graft.algebra

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The GraphProgram set algebra (reference ADR-500, SURVEY §2.7):
  * a working graph `W = (nodes, links)` mutated by a sequence of statements,
  * each merging a result graph `R` with one of five operators. Reference:
  * api/app/services/program_operators.py:42-137, program_executor.py:48-221.
  *
  * DataFrame re-expression: nodes/links are DataFrames keyed by `node_id`
  * and `(from_id, rel_type, to_id)`; the operators are union/anti/semi joins
  * and the dangling-link invariant is a double semi-join. All distributed —
  * a working graph of 10⁹ nodes behaves the same as 10².
  */
object GraphAlgebra {

  /** Working graph: nodes(node_id, …), links(from_id, rel_type, to_id, …). */
  final case class WorkingGraph(nodes: DataFrame, links: DataFrame) {
    /** Non-empty iff it has nodes OR links (program_operators.py
      * `_is_nonempty`): a links-only R — edges connecting nodes already in
      * W — must still trigger `?`/`!` merge semantics. */
    def isEmpty: Boolean = nodes.isEmpty && links.isEmpty
    def counts: (Long, Long) = (nodes.count(), links.count())
  }

  def empty(spark: SparkSession): WorkingGraph = {
    import spark.implicits._
    WorkingGraph(
      Seq.empty[String].toDF("node_id"),
      Seq.empty[(String, String, String)].toDF("from_id", "rel_type", "to_id"))
  }

  /** P6: drop links whose endpoints are not both in the node set
    * (program_operators.py:42-53). */
  def dropDangling(g: WorkingGraph): WorkingGraph = {
    val ids = g.nodes.select(col("node_id"))
    val links = g.links
      .join(ids.withColumnRenamed("node_id", "from_id"), Seq("from_id"), "left_semi")
      .join(ids.withColumnRenamed("node_id", "to_id"), Seq("to_id"), "left_semi")
    g.copy(links = links)
  }

  /** P1 `+` union: dedup nodes by id, links by (from, type, to); W wins on
    * collision (program_operators.py:65-87). W-wins is explicit: W is kept
    * unchanged and only R rows whose key is absent from W are appended
    * (anti-join) — `dropDuplicates` after a union would keep an *arbitrary*
    * row per key across partitions, silently letting R's attribute payload
    * win. Duplicate keys WITHIN R are still resolved arbitrarily (the
    * reference's R is keyed by construction — parsed AGE rows,
    * program_dispatch.py:80-175 — so R-internal dups have no defined
    * winner there either). */
  def union(w: WorkingGraph, r: WorkingGraph): WorkingGraph = {
    val newNodes = r.nodes
      .join(w.nodes.select("node_id"), Seq("node_id"), "left_anti")
      .dropDuplicates("node_id")
    val newLinks = r.links
      .join(w.links.select("from_id", "rel_type", "to_id"),
        Seq("from_id", "rel_type", "to_id"), "left_anti")
      .dropDuplicates("from_id", "rel_type", "to_id")
    dropDangling(WorkingGraph(
      w.nodes.unionByName(newNodes, allowMissingColumns = true),
      w.links.unionByName(newLinks, allowMissingColumns = true)))
  }

  /** P2 `-` difference: remove R's node ids from W, cascade-drop dangling
    * links (program_operators.py:89-97). */
  def difference(w: WorkingGraph, r: WorkingGraph): WorkingGraph =
    dropDangling(WorkingGraph(
      w.nodes.join(r.nodes.select("node_id"), Seq("node_id"), "left_anti"),
      w.links))

  /** P3 `&` intersect: keep W nodes whose id ∈ R
    * (program_operators.py:100-108). */
  def intersect(w: WorkingGraph, r: WorkingGraph): WorkingGraph =
    dropDangling(WorkingGraph(
      w.nodes.join(r.nodes.select("node_id"), Seq("node_id"), "left_semi"),
      w.links))

  /** P4 `?` optional: union iff R is non-empty, else W unchanged
    * (program_operators.py:111-115). */
  def optional(w: WorkingGraph, r: WorkingGraph): WorkingGraph =
    if (r.isEmpty) w else union(w, r)

  /** P5 `!` assert: union, but abort the program when R is empty
    * (program_operators.py:119-127). */
  def assertNonEmpty(w: WorkingGraph, r: WorkingGraph): WorkingGraph = {
    if (r.isEmpty) throw new ProgramAbort("assert operator received empty result graph")
    union(w, r)
  }

  final class ProgramAbort(msg: String) extends RuntimeException(msg)

  // ---- program interpreter (P7/P8) ----

  sealed trait Op
  case object Plus extends Op
  case object Minus extends Op
  case object And extends Op
  case object Opt extends Op
  case object Assert extends Op

  /** One statement: produce R from the current W, merge with `op`.
    * `produce` receives W so Cypher-style `$W_IDS` seed-then-expand
    * statements can bind the current working set
    * (program_dispatch.py:46-77). */
  final case class Statement(op: Op, produce: WorkingGraph => WorkingGraph)

  final case class StepLog(statement: Int, op: String, wNodes: Long, wLinks: Long,
      durationMs: Long)

  /** Sequential statement loop with per-step logging and abort semantics
    * (program_executor.py:48-196), including the global timeout (the
    * reference aborts at 60 s, program_executor.py:43). Returns final W +
    * step log; on `!` abort or timeout the partial W is returned with
    * `aborted = true`. */
  def execute(spark: SparkSession, statements: Seq[Statement],
      timeoutMs: Long = 60000L): (WorkingGraph, Seq[StepLog], Boolean) = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var w = empty(spark)
    val log = Vector.newBuilder[StepLog]
    var aborted = false
    val it = statements.zipWithIndex.iterator
    while (!aborted && it.hasNext && System.nanoTime() < deadline) {
      val (st, i) = it.next()
      val t0 = System.nanoTime()
      try {
        val r = st.produce(w)
        w = st.op match {
          case Plus   => union(w, r)
          case Minus  => difference(w, r)
          case And    => intersect(w, r)
          case Opt    => optional(w, r)
          case Assert => assertNonEmpty(w, r)
        }
      } catch {
        case _: ProgramAbort => aborted = true
      }
      val (n, l) = w.counts
      log += StepLog(i, st.op.toString, n, l, (System.nanoTime() - t0) / 1000000)
    }
    if (it.hasNext) aborted = true // timed out with statements remaining
    (w, log.result(), aborted)
  }
}
