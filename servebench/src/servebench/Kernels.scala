package servebench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{InnerProductDistance, TopKHeap}

/** Timings of the kernel entry points on seeded arrays: the median of five
  * timed loops, after one untimed loop. */
object Kernels {
  private def medianOf5(loop: () => Double): Double = {
    loop()
    val xs = Seq.fill(5)(loop()).sorted
    xs(2)
  }

  /** ns per pair of the codegen'd inner-product distance, the kernel every
    * cosine workload runs (vectors are normalized at build). */
  def distanceNsPerPair(dim: Int, seed: Long): Double = {
    val t = ArrayType(DoubleType, containsNull = false)
    val proj = UnsafeProjection.create(Seq(InnerProductDistance(
      BoundReference(0, t, nullable = false), BoundReference(1, t, nullable = false))))
    val rnd = new java.util.Random(seed)
    def vec() = UnsafeArrayData.fromPrimitiveArray(Array.fill(dim)(rnd.nextGaussian()))
    val rows = Array.fill(256)(InternalRow(vec(), vec()))
    val reps = 200000
    var sink = 0.0
    val ns = medianOf5 { () =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < reps) { sink += proj(rows(i & 255)).getDouble(0); i += 1 }
      (System.nanoTime() - t0).toDouble / reps
    }
    if (sink.isNaN) throw new IllegalStateException("distance kernel returned NaN")
    ns
  }

  /** ns per `TopKHeap.add` of seeded random distances into a k-heap */
  def topkAddNs(k: Int, seed: Long): Double = {
    val rnd = new java.util.Random(seed)
    val dists = Array.fill(1 << 20)(rnd.nextDouble())
    var sink = 0L
    val ns = medianOf5 { () =>
      val t0 = System.nanoTime()
      val heap = new TopKHeap(k)
      var i = 0
      while (i < dists.length) { heap.add(i.toLong, dists(i)); i += 1 }
      sink += heap.size
      (System.nanoTime() - t0).toDouble / dists.length
    }
    if (sink == 0) throw new IllegalStateException("top-k heap stayed empty")
    ns
  }
}
