package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.functions.VectorFunctions
import graft.operators.Knn

/** Physical index strategy behind the [[graft.api.Vicinity]] facade —
  * mirrors the reference's `AbstractBackend` surface
  * (`/root/reference/vicinity/backends/base.py:42-107`) minus persistence,
  * which the facade owns.
  *
  * A strategy consumes a store DataFrame with schema
  * `(id: Long, item: String, vector: array<float|double>)` (possibly plus
  * strategy-maintained aux columns) and answers top-k / radius queries
  * against a `(query_id, qvector)` DataFrame.
  */
trait IndexStrategy extends Serializable {
  def metric: Metric
  def name: String

  /** Cosine strategies operate on unit vectors so the kernel is a bare dot
    * product (`faiss.py:49-52`); every other metric just needs the double
    * cast. ONE definition keeps the normalization semantics — and the
    * driver/DataFrame bit-parity proofs that depend on them — in sync
    * across all strategies. */
  protected def maybeNormalize(df: DataFrame, c: String): DataFrame =
    if (metric == Metric.Cosine)
      df.withColumn(c, VectorFunctions.l2_normalize(col(c).cast("array<double>")))
    else df.withColumn(c, col(c).cast("array<double>"))

  /** Materialize build-time artifacts (normalized vectors, centroid
    * assignments, bucket hashes...) onto the store. Called once at index
    * build and again after insert/delete. Returns the augmented store the
    * strategy wants to be queried against.
    */
  def prepare(store: DataFrame): DataFrame

  /** Top-k per query: (query_id, id, dist, rank). */
  def query(prepared: DataFrame, queries: DataFrame, k: Int): DataFrame

  /** Radius query. ANN strategies use strict `<` and a max_k cap, the exact
    * strategy uses inclusive `<=` and no cap — reference semantics quirk
    * (`basic.py:168` vs `hnsw.py:111` et al.; SURVEY.md §2.1 Q2).
    */
  def queryThreshold(prepared: DataFrame, queries: DataFrame,
      threshold: Double, maxK: Int): DataFrame

  /** Top-k over a pre-FILTERED view of the prepared store — the entry
    * point behind [[graft.api.Vicinity.queryFilteredDf]]'s pre-filter
    * semantics (the predicate gates the store BEFORE the kernel, so k
    * results survive arbitrarily selective filters). The default simply
    * scores the filtered frame. Strategies whose [[query]] serves from a
    * driver-local replica of the FULL store (the graph walks:
    * [[HnswStrategy]], [[NnDescentStrategy]]) MUST override — routing the
    * filtered frame through their [[query]] would take the replica fast
    * path and silently drop the predicate (advice r11).
    */
  def queryFiltered(filtered: DataFrame, queries: DataFrame,
      k: Int): DataFrame = query(filtered, queries, k)

  def supportsInsert: Boolean = true
  def supportsDelete: Boolean = false

  /** Incremental build for inserts: prepare ONLY the appended rows and
    * union with the existing prepared frame — the reference maintains its
    * precomputed data the same way on insert (`/root/reference/vicinity/
    * backends/basic.py:34-51`: norms recomputed for new rows only).
    * Default falls back to a full re-prepare; strategies with
    * store-independent artifacts (normalization, hashes, learned codebooks)
    * override to touch only the increment.
    */
  def prepareIncrement(prevPrepared: DataFrame, newRows: DataFrame,
      fullStore: DataFrame): DataFrame = prepare(fullStore)

  /** Persist strategy-owned artifacts (codebooks, ranges) next to the index
    * — ≙ the per-backend `arguments.json`/index-file pair
    * (`/root/reference/vicinity/backends/base.py:19-32`). */
  def saveAux(dir: String): Unit = {}

  /** Restore strategy-owned artifacts before `prepare` runs on load, so
    * loading never retrains (≙ reading the index file instead of rebuilding). */
  def loadAux(dir: String): Unit = {}

  /** Write the prepared index frame; strategies override to lay data out for
    * query-time pruning (e.g. partition by centroid). */
  def writeIndex(prepared: DataFrame, path: String): Unit =
    prepared.write.mode("overwrite").parquet(path)

  /** Deterministic QPS proxy for the evaluate harness (the reference's
    * evaluate returns QPS alongside recall, `vicinity.py:378-380`; wall
    * clock is not hash-stable, so the emitted number is the work QPS is
    * made of): candidate rows this strategy scores for the given query
    * batch. Default is brute-force semantics — every (store row, query)
    * pair; pruning strategies override with their actual scan set.
    */
  def scanVolume(prepared: DataFrame, queries: DataFrame): Long =
    prepared.count() * queries.count()
}

object IndexStrategy {
  /** Empty (query_id, id, dist) result with the right schema — the ANN
    * threshold paths' `max_k <= 0` answer: the reference caps candidates at
    * `k = min(max_k, n)` before masking (`usearch.py:117,134`), so zero
    * candidates means zero results, not top-1. */
  private[index] def emptyThreshold(queries: DataFrame): DataFrame =
    queries.select(col("query_id"), lit(0L).as("id"), lit(0.0).as("dist"))
      .where(lit(false))

  /** Net range-search bound of the FAISS range-search indexes
    * (flat/ivf/scalar/ivf_scalar). The reference reuses the caller's
    * `threshold` as the `range_search` RADIUS (`faiss.py:174-175`); for
    * cosine the underlying index is inner-product over normalized vectors,
    * so the radius keeps `sim > threshold` — i.e. `dist < 1 − threshold` —
    * and the subsequent mask keeps `dist < threshold` (`faiss.py:178-183`).
    * The reference's net cosine filter is therefore
    * `dist < min(threshold, 1 − threshold)` (thresholds above 0.5 TRUNCATE
    * the result — faithful reference behavior, quirk included). Euclidean
    * radii pass through unchanged.
    */
  def faissRangeBound(metric: Metric, threshold: Double): Double =
    if (metric == Metric.Cosine) math.min(threshold, 1.0 - threshold)
    else threshold
}

/** Exact brute-force strategy ≙ reference BASIC backend
  * (`/root/reference/vicinity/backends/basic.py:98-247`).
  *
  * Build-time precompute mirrors the reference: cosine stores get
  * unit-normalized vectors once at build (`basic.py:216`), so the per-pair
  * kernel is a bare dot product (`1 − x·v`, `basic.py:218-222`); euclidean
  * queries use the direct single-pass √Σ(x−y)² kernel.
  *
  * Top-k ([[query]], and the top-max_k of `annThreshold`) runs through the
  * blocked kernel `graft.operators.Knn.blockedTopK`, the reference's
  * batched matmul + partial top-k (`basic.py:190-221`): the normalized
  * query batch is collected once, each cached store partition scores its
  * rows against the whole batch into per-query bounded heaps, and only
  * q × k × partitions survivors reach the merge, which runs in the same
  * Spark job — no per-pair row, one job. When the prepared frame has an
  * `item` column (the facade's does), these answers carry each row's
  * item, so the facade joins nothing to serve them. The radius paths
  * run through the library's one radius body (`Knn.radiusPairs`), whose
  * output is every pair under the bound and carries no item. Both skip
  * a null vector.
  *
  * `strictThreshold = false` is BASIC's inclusive `<=` radius semantics
  * (`basic.py:168`); `true` serves FAISS `flat`, whose `range_search` path
  * filters with strict `<` (`faiss.py:180-183`). Both ignore `max_k`
  * (`basic.py:163-172` never reads it; range search is uncapped).
  *
  * `annThreshold = true` serves a backend whose reference threshold path is
  * "top-max_k then strict `<` mask" (the HNSW-family shape, e.g.
  * `usearch.py:131-139`) with the exact kernel — used where a metric has no
  * LSH family but the backend's semantics are the ANN ones.
  */
case class ExactStrategy(metric: Metric, strictThreshold: Boolean = false,
    annThreshold: Boolean = false)
  extends IndexStrategy {
  val name = "exact"
  override def supportsDelete: Boolean = true // only BASIC supports delete

  def prepare(store: DataFrame): DataFrame = metric match {
    case Metric.Cosine =>
      store.withColumn("vector", VectorFunctions.l2_normalize(col("vector")))
    case _ => store
  }

  /** the pair kernel: vectors are pre-normalized for cosine, so cosine
    * scores as 1 − dot == inner-product distance */
  private def kernel: Metric =
    if (metric == Metric.Cosine) Metric.InnerProduct else metric

  /** queries normalized like the store, in their element type */
  private def normalizedQueries(queries: DataFrame): DataFrame = metric match {
    case Metric.Cosine =>
      queries.withColumn("qvector", VectorFunctions.l2_normalize(col("qvector")))
    case _ => queries
  }

  /** Raw distances: metrics that are mathematically >= 0 clip BEFORE
    * selection as fp-noise canonicalization, but InnerProduct is genuinely
    * SIGNED — it must rank (and threshold-mask) on the raw value, with the
    * clip applied only to the final output, exactly like the reference
    * facade (`vicinity.py:135`, `:162`; the backend ranks raw,
    * `usearch.py:115-121`). Clipping before selection would collapse every
    * dot > 1 row to dist 0 and pick among them by id. */
  private def clipRaw: Boolean = metric != Metric.InnerProduct

  /** top-k per query of the raw distances: (query_id, id, dist, rank),
    * plus `item` when `prepared` has one */
  private def rawTopK(prepared: DataFrame, queries: DataFrame,
      k: Int): DataFrame =
    Knn.blockedTopK(prepared, normalizedQueries(queries), k, kernel, clipRaw)

  def query(prepared: DataFrame, queries: DataFrame, k: Int): DataFrame =
    Knn.clipOut(rawTopK(prepared, queries, k))

  def queryThreshold(prepared: DataFrame, queries: DataFrame,
      threshold: Double, maxK: Int): DataFrame = {
    if (annThreshold) { // top-max_k, RAW strict < mask, clip (usearch.py:131-139)
      if (maxK <= 0) return IndexStrategy.emptyThreshold(queries)
      return Knn.clipOut(rawTopK(prepared, queries, maxK)
        .where(col("dist") < threshold).drop("rank"))
    }
    // mask on RAW (signed for InnerProduct), clip the final output only —
    // same facade semantics as query() (vicinity.py:135, :162). Strict:
    // faiss flat range search, radius-composed bound; inclusive:
    // basic.py:168
    val bound = if (strictThreshold)
      IndexStrategy.faissRangeBound(metric, threshold) else threshold
    Knn.radiusPairs(prepared, normalizedQueries(queries), kernel, clipRaw,
      bound, inclusive = !strictThreshold)
  }

  /** normalization is per-row: prepare the increment only */
  override def prepareIncrement(prevPrepared: DataFrame, newRows: DataFrame,
      fullStore: DataFrame): DataFrame =
    prevPrepared.unionByName(prepare(newRows))
}
