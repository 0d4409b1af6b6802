package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, posexplode}

/** Bounded top-k-by-distance aggregation — the Spark equivalent of the
  * reference's partial selection (`argpartition(kth=k-1)` + local sort of the
  * k survivors, `/root/reference/vicinity/backends/basic.py:190-207`).
  *
  * Why not a Window + row_number: that shuffles *every* (query, candidate)
  * pair to the query's reducer before sorting. This aggregator is a real
  * partial aggregate — each map task keeps at most k candidates per query in
  * a bounded max-heap, so only `k × partitions` rows per query cross the
  * shuffle. At 100 TB store scale this is the difference between shuffling
  * n·q rows and shuffling k·q·P rows.
  *
  * Ordering/tie-break is (distance asc, id asc) — canonicalized (the
  * reference's argpartition tie order is unspecified; SURVEY.md §5).
  */
final class TopKHeap(val k: Int) extends Serializable {
  // binary max-heap on (dist, id): root is the current worst kept candidate
  var dists: Array[Double] = new Array[Double](k)
  var ids: Array[Long] = new Array[Long](k)
  var size: Int = 0

  @inline private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 > d2 || (d1 == d2 && i1 > i2)

  private def siftUp(pos0: Int): Unit = {
    var pos = pos0
    while (pos > 0) {
      val parent = (pos - 1) >> 1
      if (worse(dists(pos), ids(pos), dists(parent), ids(parent))) {
        val td = dists(pos); dists(pos) = dists(parent); dists(parent) = td
        val ti = ids(pos); ids(pos) = ids(parent); ids(parent) = ti
        pos = parent
      } else return
    }
  }

  private def siftDown(): Unit = {
    var pos = 0
    while (true) {
      val l = 2 * pos + 1
      val r = l + 1
      var m = pos
      if (l < size && worse(dists(l), ids(l), dists(m), ids(m))) m = l
      if (r < size && worse(dists(r), ids(r), dists(m), ids(m))) m = r
      if (m == pos) return
      val td = dists(pos); dists(pos) = dists(m); dists(m) = td
      val ti = ids(pos); ids(pos) = ids(m); ids(m) = ti
      pos = m
    }
  }

  /** keeps (id, d) if it is among the k smallest seen; true if it was kept */
  def add(id: Long, d: Double): Boolean = {
    if (size < k) {
      dists(size) = d; ids(size) = id; size += 1; siftUp(size - 1); true
    } else if (k > 0 && worse(dists(0), ids(0), d, id)) {
      dists(0) = d; ids(0) = id; siftDown(); true
    } else false
  }

  def mergeIn(o: TopKHeap): TopKHeap = {
    var i = 0
    while (i < o.size) { add(o.ids(i), o.dists(i)); i += 1 }
    this
  }

  /** ascending (dist, id) */
  def sorted: Seq[Neighbor] = {
    val idx = (0 until size).sortBy(i => (dists(i), ids(i)))
    idx.map(i => Neighbor(ids(i), dists(i)))
  }
}

case class Neighbor(id: Long, dist: Double)

object TopK {
  /** Per-group top-k: groups `df` by `groupCols`, keeps the k smallest
    * (distCol, idCol) pairs per group, and returns one row per kept neighbor
    * with columns `groupCols ++ (idCol, distCol, rank)` where rank is
    * 1-based ascending by (dist, id).
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
      distCol: String, k: Int): DataFrame = {
    df.groupBy(groupCols.map(col): _*)
      .agg(TopKNeighborsAgg.topk(k, col(idCol), col(distCol)).as("_nbrs"))
      .select(groupCols.map(col) :+ posexplode(col("_nbrs")): _*)
      .withColumnRenamed("pos", "_pos")
      .select(
        groupCols.map(col) ++ Seq(
          col("col.id").as(idCol),
          col("col.dist").as(distCol),
          (col("_pos") + 1).cast("int").as("rank")): _*)
  }

  /** Top-n rows by DESCENDING `scoreCol`, ties on ascending `idCol`, per
    * group of `groupCols` — or over the whole frame when `groupCols` is
    * empty. Returns `groupCols ++ (idCol, scoreCol, rank)` with a 1-based
    * long rank. The heap keeps the n smallest NEGATED scores, so the map
    * side ships at most n rows per group and partition and no Window is
    * ever planned; negation is exact, so the score comes back bit for bit.
    */
  def topNByScore(df: DataFrame, idCol: String, scoreCol: String, n: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    val negated = df.select(groupCols.map(col) ++
      Seq(col(idCol), (-col(scoreCol)).as(scoreCol)): _*)
    topKPerGroup(negated, groupCols, idCol, scoreCol, n)
      .select(groupCols.map(col) ++ Seq(col(idCol),
        (-col(scoreCol)).as(scoreCol), col("rank").cast("long").as("rank")): _*)
  }
}
