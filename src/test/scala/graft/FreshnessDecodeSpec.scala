package graft

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Freshness
import graft.functions.DecodeFloatArray

/** Freshness-registry conformance (the reference's test_freshness_contract
  * idea) and packed-binary embedding decode. */
class FreshnessDecodeSpec extends SparkSpec {
  import spark.implicits._

  test("derivations recompute only when the committed epoch advances") {
    var epoch = 1L
    var computes = 0
    val f = new Freshness(() => epoch)
    f.register("doubled") {
      computes += 1
      Seq(1, 2, 3).toDF("x").withColumn("y", $"x" * 2)
    }
    f.get("doubled").count(); f.get("doubled").count()
    assert(computes == 1) // warm cache short-circuit
    assert(f.cachedEpoch("doubled").contains(1L))
    epoch = 2L // clock bump → tier evict
    f.get("doubled").count()
    assert(computes == 2)
    assert(f.cachedEpoch("doubled").contains(2L))
    intercept[IllegalArgumentException] { f.get("nope") }
  }

  test("invalidateAll evicts every tier; the next get recomputes at the same epoch") {
    var computes = 0
    val f = new Freshness(() => 7L)
    f.register("a") { computes += 1; Seq(701, 702).toDF("fa") }
    f.register("b") { computes += 1; Seq(703).toDF("fb") }
    val a = f.get("a"); val b = f.get("b")
    a.count(); b.count()
    assert(computes == 2)
    assert(a.storageLevel != StorageLevel.NONE)
    f.invalidateAll()
    assert(f.registered.forall(f.cachedEpoch(_).isEmpty))
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
    f.get("a").count()
    assert(computes == 3) // same epoch, yet recomputed: the tier was dropped
    assert(f.cachedEpoch("a").contains(7L))
    f.invalidateAll()
  }

  def packF32(vs: Seq[Float]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putFloat)
    bb.array()
  }

  def packF16(vs: Seq[Float]): Array[Byte] = {
    def floatToHalf(f: Float): Int = {
      // round-trip-safe for the values used in this test (exact halves)
      val bits = java.lang.Float.floatToIntBits(f)
      val sign = (bits >>> 31) & 1
      val exp = ((bits >>> 23) & 0xff) - 127 + 15
      val mant = (bits >> 13) & 0x3ff
      if (f == 0f) 0 else (sign << 15) | (exp << 10) | mant
    }
    val bb = ByteBuffer.allocate(vs.length * 2).order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach(v => bb.putShort(floatToHalf(v).toShort))
    bb.array()
  }

  val vals = Seq(1.0f, -2.5f, 0.0f, 0.5f)

  test("incremental aggregate maintenance equals full recompute at every step") {
    import graft.core.Incremental
    // Append-only log in three epoch batches; keys overlap across batches.
    val b1 = Seq(("a", 10.0, 1L), ("b", 5.0, 2L), ("a", 1.0, 3L))
    val b2 = Seq(("b", 2.5, 4L), ("c", 7.0, 5L))
    val b3 = Seq(("a", 0.5, 6L), ("c", 1.0, 7L), ("c", 2.0, 8L))
    def log(batches: Seq[(String, Double, Long)]*): org.apache.spark.sql.DataFrame =
      batches.flatten.toDF("k", "v", "epoch")

    var state: Option[Incremental.MaintainedAgg] = None
    val histories = Seq(log(b1), log(b1, b2), log(b1, b2, b3))
    histories.foreach { full =>
      state = Some(Incremental.advance(state, full, "k", "v", "epoch"))
      val inc = state.get.agg.orderBy("k").collect().toSeq
      val ref = Incremental.recompute(full, "k", "v").orderBy("k").collect().toSeq
      assert(inc == ref, s"divergence at horizon ${state.get.upToEpoch}")
    }
    assert(state.get.upToEpoch == 8L)
    // an empty delta advances nothing and changes nothing
    val again = Incremental.advance(state, histories.last, "k", "v", "epoch")
    assert(again.upToEpoch == 8L)
    assert(again.agg.orderBy("k").collect().toSeq ==
      state.get.agg.orderBy("k").collect().toSeq)
  }

  test("f32 decode round-trips packed little-endian binary") {
    val df = Seq(Tuple1(packF32(vals))).toDF("b")
    val out = df.select(DecodeFloatArray.f32($"b")).as[Seq[Float]].head()
    assert(out == vals)
  }

  test("f16 decode handles normals, zero, and subnormal/inf edge cases") {
    val df = Seq(Tuple1(packF16(vals))).toDF("b")
    val out = df.select(DecodeFloatArray.f16($"b")).as[Seq[Float]].head()
    assert(out == vals)
    // direct kernel checks
    assert(DecodeFloatArray.halfToFloat(0x3c00) == 1.0f)
    assert(DecodeFloatArray.halfToFloat(0xc000) == -2.0f)
    assert(DecodeFloatArray.halfToFloat(0x0001) == 5.9604645e-8f) // subnormal
    assert(DecodeFloatArray.halfToFloat(0x7c00).isInfinite)
    assert(DecodeFloatArray.halfToFloat(0x7e00).isNaN)
  }

  test("auto decode sniffs the width from byte length (reference rule)") {
    val rows = Seq(
      ("f32", packF32(vals)),
      ("f16", packF16(vals)),
      ("bad", Array[Byte](1, 2, 3))).toDF("kind", "b")
    val out = rows.select($"kind", DecodeFloatArray.auto($"b", dim = 4).as("v"))
      .as[(String, Option[Seq[Float]])].collect().toMap
    assert(out("f32").contains(vals))
    assert(out("f16").contains(vals))
    assert(out("bad").isEmpty)
  }

  test("decoded embeddings feed the cosine kernel end-to-end") {
    val df = Seq(
      (1L, packF16(Seq(1f, 0f, 0f, 0f))),
      (2L, packF16(Seq(0f, 1f, 0f, 0f)))).toDF("id", "b")
    val q = graft.functions.VectorOps.vecLit(Seq(1.0, 0.0, 0.0, 0.0))
    val sims = df.select($"id",
        graft.functions.VectorOps.cosine(DecodeFloatArray.f16($"b"), q).as("sim"))
      .as[(Long, Double)].collect().toMap
    assert(sims(1L) == 1.0 && sims(2L) == 0.0)
  }
}
