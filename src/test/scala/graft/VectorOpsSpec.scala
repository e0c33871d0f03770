package graft

import org.apache.spark.sql.functions._
import graft.functions.{CosineSimilarity, VectorOps}

/** Vector kernel correctness on hand-computed 8-dim fixtures (FIXTURES.md
  * micro-fixture convention), HOF vs codegen-Expression agreement, and
  * null/zero-norm edge cases. */
class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  val vecs = Seq(
    (1L, Seq(1.0, 0.0, 0.0, 0.0)),
    (2L, Seq(0.0, 1.0, 0.0, 0.0)),
    (3L, Seq(1.0, 1.0, 0.0, 0.0)),
    (4L, Seq(2.0, 0.0, 0.0, 0.0)),
    (5L, Seq(0.0, 0.0, 0.0, 0.0))
  ).toDF("id", "v")

  test("cosine: orthogonal=0, parallel=1, 45deg=sqrt(2)/2; zero-norm=NULL") {
    val q = VectorOps.vecLit(Seq(1.0, 0.0, 0.0, 0.0))
    val m = vecs.select($"id", VectorOps.cosine($"v", q).as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(m(1L).contains(1.0))
    assert(m(2L).contains(0.0))
    assert(math.abs(m(3L).get.asInstanceOf[Double] - math.sqrt(2) / 2) < 1e-12)
    assert(m(4L).contains(1.0))
    assert(m(5L).isEmpty) // zero norm → NULL
  }

  test("codegen Expression agrees with HOF implementation everywhere") {
    val q = VectorOps.vecLit(Seq(0.3, -0.7, 0.2, 0.9))
    val diff = vecs.where($"id" =!= 5L)
      .select(abs(VectorOps.cosine($"v", q) - VectorOps.cosineHof($"v", q)).as("d"))
      .agg(max($"d")).head().getDouble(0)
    assert(diff < 1e-12)
  }

  test("constant-query fold is bit-identical to the column-column path") {
    // cosine(v, lit(q)) takes the folded path (query norm precomputed at
    // plan time); cosine(v, qc) with qc rebuilt per row from the data (its
    // child references v, so it is NOT foldable) takes the generic path.
    // Accumulation order is identical in both kernels → results must be
    // EQUAL, not just close.
    val q = Seq(0.3, -0.7, 0.2, 0.9)
    val folded = vecs.select($"id", VectorOps.cosine($"v", VectorOps.vecLit(q)).as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val qcol = vecs.select($"id", transform($"v", (_, i) =>
      element_at(VectorOps.vecLit(q), i.cast("int") + 1)).as("qc"))
    val generic = vecs.join(qcol, "id")
      .select($"id", VectorOps.cosine($"v", $"qc").as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(folded == generic)
  }

  test("CosineArgumentReorder flips a foldable left argument to the right") {
    val q = Seq(0.3, -0.7, 0.2, 0.9)
    // user writes the constant FIRST — the fold can't apply as written
    val df = vecs.select($"id",
      VectorOps.cosine(VectorOps.vecLit(q), $"v").as("c"))
    val rewritten = CosineArgumentReorder(df.queryExecution.analyzed)
    val cosines = rewritten.expressions.flatMap(_.collect {
      case c: CosineSimilarity => c
    })
    assert(cosines.nonEmpty)
    cosines.foreach { c =>
      assert(!c.left.foldable && c.right.foldable, c.sql)
    }
    // symmetric: flipped arguments give identical results
    val a = df.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val b = vecs.select($"id", VectorOps.cosine($"v", VectorOps.vecLit(q)).as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(a == b)
  }

  test("mismatched lengths yield NULL, not an error") {
    val q = VectorOps.vecLit(Seq(1.0, 2.0))
    val r = vecs.select(VectorOps.cosine($"v", q).as("c")).collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("dot / norm / normalize / sub agree with hand math") {
    val df = Seq((Seq(3.0, 4.0), Seq(1.0, 2.0))).toDF("a", "b")
    val row = df.select(
      VectorOps.dot($"a", $"b").as("dot"),
      VectorOps.l2Norm($"a").as("na"),
      VectorOps.normalize($"a").as("an"),
      VectorOps.sub($"a", $"b").as("amb")).head()
    assert(row.getDouble(0) == 11.0)
    assert(row.getDouble(1) == 5.0)
    assert(row.getSeq[Double](2) == Seq(0.6, 0.8))
    assert(row.getSeq[Double](3) == Seq(2.0, 2.0))
  }

  test("cosine predicate infers IsNotNull and pushes it into the scan") {
    val dir = java.nio.file.Files.createTempDirectory("cosnull").toString
    Seq((1L, Some(Seq(1.0, 0.0))), (2L, None))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val q = VectorOps.vecLit(Seq(1.0, 0.0))
    val filtered = df.where(VectorOps.cosine($"v", q) >= 0.5)
    // nullIntolerant lets Catalyst add IsNotNull(v) → parquet PushedFilters
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("IsNotNull(v)"), scan.take(500))
    assert(filtered.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("float32 inputs are promoted to double before accumulation") {
    val f = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val q = VectorOps.vecLit(Seq(1.0, 2.0, 3.0))
    val c = f.select(VectorOps.cosine($"v", q)).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("QuantizedCosine fused kernel is bit-identical to the composed HOF form") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    // the composed pipeline the fused expression replaced (q92's original
    // coarse pass, bit-for-bit the oracle contract): scale = max|x|/127,
    // half-away-from-zero rounding, cosine of the quantized image
    def composed(v: Column, q: Column): Column = {
      val scale = array_max(transform(v, x => abs(x))) / lit(127.0)
      val qv = transform(v, x => {
        val d = x / scale
        when(scale.isNull || scale === 0, lit(0.0))
          .when(d >= 0, floor(d + lit(0.5)).cast("double"))
          .otherwise(ceil(d - lit(0.5)).cast("double"))
      })
      VectorOps.cosine(qv, q)
    }
    val rnd = new scala.util.Random(42)
    val rows = (1 to 400).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextDouble() * 20 - 10))
    } ++ Seq(
      (1001L, Seq.fill(16)(0.0)),          // zero scale -> NULL
      (1002L, Seq.fill(16)(-3.7)),         // all-negative
      (1003L, Seq.tabulate(16)(j => if (j == 0) 127.5 else 0.25)),
      // non-finite rows: array_max orders NaN GREATEST (scale = NaN) and
      // Spark's floor/ceil return LONG, collapsing NaN quotients to 0 —
      // the quantized image goes all-zero and the cosine is NULL. The
      // kernel must replay that collapse, not propagate the NaN.
      (1004L, Seq.fill(16)(Double.NaN)),                              // all-NaN
      (1005L, Seq.tabulate(16)(j => if (j == 3) Double.NaN else 0.0)), // NaN among zeros
      (1006L, Seq.tabulate(16)(j => if (j == 7) Double.NaN else 2.5)), // NaN among finite
      (1007L, Seq.tabulate(16)(j =>
        if (j == 1) Double.PositiveInfinity else 1.0)))               // Inf scale
    val df = rows.toDF("id", "v")
    val qSeq = Seq.tabulate(16)(j => (j - 8).toDouble)
    val qLit = VectorOps.vecLit(qSeq)
    def bits(c: Column): Seq[Option[Long]] =
      df.select(c).collect().toSeq.map(r =>
        if (r.isNullAt(0)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(0))))
    val fused = bits(graft.functions.QuantizedCosine($"v", qLit))
    val viaHof = bits(composed($"v", qLit))
    assert(fused == viaHof, "fused kernel must replay the composed math exactly")
    assert(fused.exists(_.isEmpty), "zero-scale row must yield NULL")
    val idToFused = df.select($"id").as[Long].collect().toSeq.zip(fused).toMap
    Seq(1004L, 1005L, 1006L, 1007L).foreach { id =>
      assert(idToFused(id).isEmpty,
        s"row $id: non-finite input must collapse to NULL like the composed form")
    }
    // Spark's OWN interpreted path (nullSafeEval), not a scratch
    // reimplementation — a codegen/eval divergence fails here
    val interpreted =
      withSQLConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
          "spark.sql.codegen.wholeStage" -> "false") {
        bits(graft.functions.QuantizedCosine($"v", qLit))
      }
    assert(fused == interpreted)
    // the non-foldable (column-column) generic path agrees too: wrapping
    // the query in a per-row column defeats the plan-time fold
    val dfQ = df.withColumn("q", when($"id" >= 0, qLit))
    val colCol = dfQ.select(graft.functions.QuantizedCosine($"v", $"q"))
      .collect().toSeq.map(r =>
        if (r.isNullAt(0)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(0))))
    assert(colCol == viaHof, "generic two-sided kernel agrees")
  }

  test("the cosine kernels compile one class for every query vector, sims unchanged") {
    // the codegen cache is keyed by the generated source: a query value
    // compiled into it would cost a fresh compile per distinct query
    import graft.functions.QuantizedCosine
    import org.apache.spark.sql.Column
    val df = spark.range(40).select($"id", array((0 until 6).map(j =>
      sin($"id" * (j + 1)) * 3 + lit(j)): _*).as("v"))
    val q1 = Seq(0.3, -0.7, 0.2, 0.9, 1.5, -2.0)
    val q2 = Seq(-1.1, 0.4, 0.0, 2.5, 0.25, 0.6)
    def stageCode(c: Column): Seq[String] =
      org.apache.spark.sql.execution.debug.codegenStringSeq(
        df.select($"id", c.as("s")).queryExecution.executedPlan).map(_._2)
    def sims(c: Column): Seq[Option[Long]] =
      df.select(c).collect().toSeq.map(r =>
        if (r.isNullAt(0)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(0))))
    Seq[Seq[Double] => Column](
      q => VectorOps.cosine($"v", VectorOps.vecLit(q)),
      q => QuantizedCosine($"v", VectorOps.vecLit(q))).foreach { kernel =>
      val code1 = stageCode(kernel(q1))
      assert(code1.nonEmpty && code1 == stageCode(kernel(q2)))
    }
    // the folded kernel's sims: dot / (sqrt(nx) * |q|), sums left to right
    val rows = df.select("v").collect().map(_.getSeq[Double](0))
    Seq(q1, q2).foreach { q =>
      val qn = math.sqrt(q.map(x => x * x).foldLeft(0.0)(_ + _))
      val want = rows.toSeq.map { x =>
        val dot = x.zip(q).map { case (a, b) => a * b }.foldLeft(0.0)(_ + _)
        val nx = x.map(a => a * a).foldLeft(0.0)(_ + _)
        Some(java.lang.Double.doubleToLongBits(dot / (math.sqrt(nx) * qn)))
      }
      val c = VectorOps.cosine($"v", VectorOps.vecLit(q))
      assert(sims(c) == want)
      withSQLConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
          "spark.sql.codegen.wholeStage" -> "false") {
        assert(sims(c) == want, "the interpreted path scores through the same loop")
      }
    }
  }
}
