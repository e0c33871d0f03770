package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Cosine similarity between the INT8-QUANTIZED image of `left` and an
  * already-quantized `right` — the coarse scorer of the quantized-rerank
  * ANN rung (q92; Ann.scala's ladder between the exact scan and IVF
  * cells), fused into ONE codegen kernel.
  *
  * Semantics are exactly the composed column form it replaces
  * (bit-for-bit, the oracle contract):
  * {{{
  *   scale = array_max(transform(v, abs)) / 127.0
  *   qv    = transform(v, x -> d = x/scale;
  *                          d >= 0 ? floor(d + 0.5) : ceil(d - 0.5))
  *   cosine(qv, right)        -- NULL on zero scale / zero norm / len mismatch
  * }}}
  *
  * Non-finite inputs included, and the composed form's behavior there is
  * subtler than it looks: `array_max` orders NaN GREATEST (scale = NaN
  * when any element is NaN), and Spark's `floor`/`ceil` on doubles
  * return LONG — so a NaN quotient collapses to (long) NaN = 0, every
  * element of the quantized image becomes 0, and the zero-norm cosine is
  * NULL. The kernel replays both steps exactly (NaN-greatest max pass;
  * (double)(long) on the rounded quotient), so NaN/Infinity rows yield
  * NULL on both paths. Pinned by VectorOpsSpec's NaN/Infinity rows.
  *
  * Why an Expression and not the HOF pipeline: the composed form runs
  * THREE interpreted higher-order passes per row (abs-transform,
  * array_max, quantize-transform), materializing two transient arrays per
  * row. Beyond the steady-state cost, the interpreted `LambdaFunction
  * .eval` call sites are megamorphic across a 100-query suite, and JIT
  * profile pollution made the whole coarse pass BIMODAL at sf10 (r13/r14
  * verdicts: 0.63-0.80 s in six of nine canary-valid runs, 3.48-4.04 s in
  * the other three — same code, same data, mode pinned for a JVM's
  * lifetime). Whole-stage codegen sidesteps the shared interpreted
  * dispatch entirely — the kernel is a private loop in the generated
  * stage — and one fused pass does no per-row allocation at all.
  *
  * The right side is the driver-quantized QUERY vector — a foldable
  * literal in the ladder's shape — so its values and norm fold at plan
  * time (CosineSimilarity's optimization). A non-foldable or degenerate
  * (null / zero-norm / NaN) right falls back to a generic two-sided
  * kernel that recomputes the right norm per row.
  *
  * Cites: reference api/app/lib/similarity_calculator.py:31-80 (the
  * scorer), int8 storage quantization as in q53_quantize_int8.
  */
case class QuantizedCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"quantized_cosine requires array<double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "quantized_cosine"
  override def nullIntolerant: Boolean = true

  /** Plan-time fold of the (already-quantized) query side, as in
    * [[CosineSimilarity.foldedRight]]. */
  @transient private lazy val foldedRight: Option[(Array[Double], Double)] =
    if (!right.foldable) None
    else Option(right.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
      .flatMap { r =>
        val arr = r.asInstanceOf[ArrayData].toDoubleArray()
        var ny = 0.0; var i = 0
        while (i < arr.length) { ny += arr(i) * arr(i); i += 1 }
        if (ny == 0.0 || java.lang.Double.isNaN(ny) ||
          java.lang.Double.isInfinite(ny)) None
        else Some((arr, math.sqrt(ny)))
      }

  /** Quantize one element under `scale` — Math.floor/ceil half-away-from-
    * zero, EXACTLY the composed `when` chain's arithmetic on IEEE doubles
    * (the oracle replays the same formula in SQL). The (long) round-trip
    * is Spark's own Floor/Ceil result type (LongType): identity on the
    * finite quantized range (|d| ≤ 127), and what collapses a NaN
    * quotient to 0 exactly like the composed form. */
  @inline private def quant(x: Double, scale: Double): Double = {
    val d = x / scale
    (if (d >= 0) math.floor(d + 0.5) else math.ceil(d - 0.5)).toLong.toDouble
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    // pass 1: the row's max-|x| scale (q53's storage quantization).
    // NaN replays array_max's ordering (NaN greater than everything):
    // a NaN element makes scale NaN, every quotient NaN, and quant's
    // long collapse turns the image all-zero → NULL, as composed.
    var m = 0.0; var i = 0
    while (i < n) {
      val v = math.abs(x.getDouble(i))
      if (java.lang.Double.isNaN(v) || v > m) m = v
      i += 1
    }
    val scale = m / 127.0
    if (scale == 0.0) return null
    foldedRight match {
      case Some((q, qn)) =>
        if (n != q.length) return null
        var dot = 0.0; var nx = 0.0; i = 0
        while (i < n) {
          val qv = quant(x.getDouble(i), scale)
          dot += qv * q(i); nx += qv * qv
          i += 1
        }
        if (nx == 0.0) null else dot / (math.sqrt(nx) * qn)
      case None =>
        val y = b.asInstanceOf[ArrayData]
        if (n != y.numElements()) return null
        var dot = 0.0; var nx = 0.0; var ny = 0.0; i = 0
        while (i < n) {
          val qv = quant(x.getDouble(i), scale)
          val yv = y.getDouble(i)
          dot += qv * yv; nx += qv * qv; ny += yv * yv
          i += 1
        }
        if (nx == 0.0 || ny == 0.0) null
        else dot / (math.sqrt(nx) * math.sqrt(ny))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val m = ctx.freshName("m")
    val av = ctx.freshName("av")
    val scale = ctx.freshName("scale")
    val d = ctx.freshName("d")
    val qv = ctx.freshName("qv")
    val dot = ctx.freshName("dot")
    val nx = ctx.freshName("nx")
    def scalePass(a: String): String =
      s"""
         |final int $n = $a.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $av = java.lang.Math.abs($a.getDouble($i));
         |  if (Double.isNaN($av) || $av > $m) $m = $av;
         |}
         |final double $scale = $m / 127.0D;
       """.stripMargin
    def quantExpr(a: String): String =
      s"""final double $d = $a.getDouble($i) / $scale;
         |    final double $qv = (double)(long)(($d >= 0) ? java.lang.Math.floor($d + 0.5D)
         |                                                : java.lang.Math.ceil($d - 0.5D));""".stripMargin
    foldedRight match {
      case Some((q, qn)) =>
        // the norm rides a reference like the query: a compiled-in value
        // would make every query's stage a new codegen-cache entry
        val qref = ctx.addReferenceObj("quantQuery", q, "double[]")
        val qnref = ctx.addReferenceObj("quantQueryNorm", Array(qn), "double[]")
        nullSafeCodeGen(ctx, ev, (a, _) => {
          s"""
             |${scalePass(a)}
             |if ($scale == 0.0D || $n != $qref.length) {
             |  ${ev.isNull} = true;
             |} else {
             |  double $dot = 0.0; double $nx = 0.0;
             |  for (int $i = 0; $i < $n; $i++) {
             |    ${quantExpr(a)}
             |    $dot += $qv * $qref[$i]; $nx += $qv * $qv;
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
             |${scalePass(a)}
             |if ($scale == 0.0D || $n != $b.numElements()) {
             |  ${ev.isNull} = true;
             |} else {
             |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
             |  for (int $i = 0; $i < $n; $i++) {
             |    ${quantExpr(a)}
             |    final double $yv = $b.getDouble($i);
             |    $dot += $qv * $yv; $nx += $qv * $qv; $ny += $yv * $yv;
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

object QuantizedCosine {
  /** Column-API entry point: `quantizedCosine(v, alreadyQuantizedQuery)`. */
  def apply(a: Column, b: Column): Column =
    Bridge.column(QuantizedCosine(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))
}
