package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns, with whole-stage codegen.
  *
  * This is the engine's hottest scalar kernel: the reference duplicates a
  * Python `cosine_similarity` 15+ times (reference
  * api/app/lib/similarity_calculator.py:31-80) and runs it row-at-a-time on
  * the driver; here it compiles into the generated stage so a 100 TB scan
  * never leaves codegen. Null in either input, mismatched lengths, or a
  * zero-norm vector yields NULL (the reference returns 0.0 for zero-norm;
  * callers that need that use `coalesce(cosine, 0.0)`).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must already be array<double> — the Column-API entry point in the
  // companion casts; no implicit coercion here.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity requires array<double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"
  // null input → null output, so Catalyst may infer IsNotNull constraints
  // from predicates over this expression and push them into the scan
  override def nullIntolerant: Boolean = true

  /** V1's dominant shape is `cosine(embedding, lit(queryVector))`: the right
    * side is a foldable constant, so its values and norm are computed ONCE
    * at plan time instead of per row — for a 1536-dim query that removes a
    * third of the kernel's multiplies from the per-row loop (the norm) and
    * reads the constant from a plain double[] instead of ArrayData. A
    * foldable-but-degenerate right side (null / zero norm → always-null
    * result) falls back to the generic path, which already yields null. */
  @transient private lazy val foldedRight: Option[(Array[Double], Double)] =
    if (!right.foldable) None
    else Option(right.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
      .flatMap { r =>
        val arr = r.asInstanceOf[ArrayData].toDoubleArray()
        val qn = CosineSimilarity.norm(arr)
        // NaN/Inf norms also fall back (the result is degenerate either way)
        if (qn == 0.0 || java.lang.Double.isNaN(qn) || java.lang.Double.isInfinite(qn)) None
        else Some((arr, qn))
      }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    foldedRight match {
      case Some((q, qn)) => CosineSimilarity.score(x, 0, x.length, q, qn)
      case None =>
        val y = b.asInstanceOf[ArrayData].toDoubleArray()
        val ny = CosineSimilarity.norm(y)
        if (ny == 0.0) null else CosineSimilarity.score(x, 0, x.length, y, ny)
    }
  }

  /** Both generated kernels spell out [[CosineSimilarity.score]]'s loop
    * (same accumulation order, so the same bits). The folded query and
    * its norm enter as reference objects, never as source text: the
    * codegen cache is keyed by the generated source, so a compiled-in
    * value would compile a fresh class for every distinct query vector
    * and churn the cache every other query shares. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val dot = ctx.freshName("dot")
    val nx = ctx.freshName("nx")
    val xv = ctx.freshName("xv")
    foldedRight match {
      case Some((q, qn)) =>
        val qref = ctx.addReferenceObj("cosineQuery", q, "double[]")
        val qnref = ctx.addReferenceObj("cosineQueryNorm", Array(qn), "double[]")
        nullSafeCodeGen(ctx, ev, (a, _) => {
          s"""
             |final int $n = $a.numElements();
             |if ($n != $qref.length) {
             |  ${ev.isNull} = true;
             |} else {
             |  double $dot = 0.0; double $nx = 0.0;
             |  for (int $i = 0; $i < $n; $i++) {
             |    final double $xv = $a.getDouble($i);
             |    $dot += $xv * $qref[$i]; $nx += $xv * $xv;
             |  }
             |  if ($nx == 0.0) {
             |    ${ev.isNull} = true;
             |  } else {
             |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * $qnref[0]);
             |  }
             |}
           """.stripMargin
        })
      case None =>
        val ny = ctx.freshName("ny")
        val yv = ctx.freshName("yv")
        nullSafeCodeGen(ctx, ev, (a, b) => {
          s"""
             |final int $n = $a.numElements();
             |if ($n != $b.numElements()) {
             |  ${ev.isNull} = true;
             |} else {
             |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
             |  for (int $i = 0; $i < $n; $i++) {
             |    final double $xv = $a.getDouble($i);
             |    final double $yv = $b.getDouble($i);
             |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
             |  }
             |  if ($nx == 0.0 || $ny == 0.0) {
             |    ${ev.isNull} = true;
             |  } else {
             |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
             |  }
             |}
           """.stripMargin
        })
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** The L2 norm of `q`: the squares summed left to right, then one
    * sqrt — the same bits as the generic kernel's per-row `ny`. */
  def norm(q: Array[Double]): Double = {
    var ny = 0.0; var i = 0
    while (i < q.length) { ny += q(i) * q(i); i += 1 }
    math.sqrt(ny)
  }

  /** The one cosine scoring loop: `x[off, off + n)` against the query `q`
    * of norm `qn` (see [[norm]]). NULL when the lengths differ or `x` has
    * zero norm. Products accumulate left to right, as in the generated
    * kernels, so every engine that scores through here — the expression's
    * interpreted path and the driver-resident concept table — returns the
    * codegen path's bits. A null element of `x` reads as 0.0, as
    * `ArrayData.getDouble` reads it. */
  def score(x: Array[Double], off: Int, n: Int, q: Array[Double],
      qn: Double): java.lang.Double = {
    if (n != q.length) return null
    var dot = 0.0; var nx = 0.0; var i = 0
    while (i < n) {
      val xv = x(off + i)
      dot += xv * q(i); nx += xv * xv
      i += 1
    }
    if (nx == 0.0) null else dot / (math.sqrt(nx) * qn)
  }

  /** Column-API entry point: `cosine(a, b)`. */
  def apply(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(
      Bridge.expression(a.cast("array<double>")), Bridge.expression(b.cast("array<double>"))))
}
