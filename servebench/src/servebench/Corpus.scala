package servebench

/** Seeded clustered-Gaussian vectors: `clusters` centres drawn from
  * N(0, 1)^dim, every point a centre plus N(0, Spread²)^dim noise. Points
  * take the centres in turn, so every cluster holds the same number of
  * rows whatever the seed. The stored rows, the held-out queries and the
  * append pool are separate draws from the same mixture, so queries are
  * never stored rows. */
final case class Corpus(rows: Array[Array[Double]],
    queries: Array[Array[Double]], appendPool: Array[Array[Double]])

object Corpus {
  /** standard deviation of a point around its centre */
  val Spread = 0.35

  def generate(seed: Long, n: Int, nQueries: Int, nAppend: Int, dim: Int,
      clusters: Int): Corpus = {
    val rnd = new java.util.Random(seed)
    val centres = Array.fill(clusters, dim)(rnd.nextGaussian())
    def draw(count: Int): Array[Array[Double]] = Array.tabulate(count) { i =>
      val c = centres(i % clusters)
      Array.tabulate(dim)(j => c(j) + Spread * rnd.nextGaussian())
    }
    Corpus(draw(n), draw(nQueries), draw(nAppend))
  }

  def normalize(v: Array[Double]): Array[Double] = {
    var ss = 0.0
    var i = 0
    while (i < v.length) { ss += v(i) * v(i); i += 1 }
    val norm = math.sqrt(ss)
    if (norm == 0.0) v.clone() else v.map(_ / norm)
  }

  /** Driver-side exact cosine top-k over `live` (already normalized):
    * (id, distance) ascending by (distance, id), distances clipped at 0
    * like the engine's output. A plain insertion selection, independent of
    * the engine's own top-k code. */
  def bruteForce(live: IndexedSeq[Array[Double]], query: Array[Double],
      k: Int): Seq[(Long, Double)] = {
    val q = normalize(query)
    val ids = new Array[Int](k)
    val ds = new Array[Double](k)
    var size = 0
    var id = 0
    while (id < live.length) {
      val v = live(id)
      var dot = 0.0
      var j = 0
      while (j < q.length) { dot += q(j) * v(j); j += 1 }
      val d = 1.0 - dot
      // ids arrive ascending, so on equal distance the kept one ranks first
      if (size < k || d < ds(size - 1)) {
        var pos = math.min(size, k - 1)
        while (pos > 0 && ds(pos - 1) > d) {
          ds(pos) = ds(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
        }
        ds(pos) = d; ids(pos) = id
        if (size < k) size += 1
      }
      id += 1
    }
    (0 until size).map(i => (ids(i).toLong, math.max(ds(i), 0.0)))
  }
}
