package graft.api

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Backend, BackendArgs, FsIO, Metric}
import graft.index.{BqStrategy, ExactStrategy, HnswStrategy, IndexStrategy, IvfBqStrategy, IvfPqStrategy, IvfSq8Strategy, IvfStrategy, LshStrategy, NnDescentStrategy, OpqStrategy, PqStrategy, Sq8Strategy}

/** The user-facing vector store facade — the Spark-native `Vicinity[T]`
  * (`/root/reference/vicinity/vicinity.py:23-393`).
  *
  * Data model (SURVEY.md §1.4): one DataFrame with schema
  * `(id: Long, item: String, vector: array<double>)`. `id` materializes the
  * reference's positional index (`vicinity.py:136` — positional semantics
  * don't survive shuffles, so the id is assigned once at ingest via
  * zipWithIndex and re-derived after deletes, matching the reference's
  * list-pop reindexing). `item` is a free-form JSON document, which keeps
  * the reference's heterogeneous items (`tests/conftest.py:27`) lossless.
  */
class Vicinity private (
    val spark: SparkSession,
    /** (id, item, vector) — raw ingested store */
    val store: DataFrame,
    val backend: Backend,
    val args: BackendArgs,
    val metadata: Map[String, String],
    val storeVectors: Boolean,
    val strategy: IndexStrategy,
    /** strategy-prepared (cached) store */
    private val prepared: DataFrame,
    val count: Long,
    val dim: Int) {

  def metric: Metric = args.metric

  private def queriesDf(vectors: Seq[Seq[Double]]): DataFrame = {
    // LOCAL relation, not an RDD-backed frame (r20): the evaluate
    // harnesses reference this tiny frame many times per call, and the
    // r19 parallelize(…, 1) shape needed a cache + count job just to
    // avoid re-scheduling the RDD per reference; a LocalRelation embeds
    // the rows in the plan — zero jobs, broadcastable, same schema/rows.
    val rows = vectors.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("qvector", ArrayType(DoubleType, containsNull = false)))))
  }

  /** A strategy result with each row's `item`, as `cols`. The item comes
    * from the result itself when the strategy carried it from the rows it
    * scored, which hold the store's items:
    *  - `ExactStrategy` (BASIC, FAISS `flat`, USEARCH's non-cosine
    *    metrics): top-k, and USEARCH's top-max_k radius, read it from
    *    the prepared frame through the blocked kernel;
    *  - `IvfStrategy` (FAISS `ivf`): top-k reads it from the prepared
    *    frame, and the IVF family's disk reads from the serving layout.
    * Every other result joins it from the store by id. */
  private def withItems(res: DataFrame, cols: String*): DataFrame =
    (if (res.columns.contains("item")) res
     else res.join(store.select(col("id"), col("item")), Seq("id"), "left"))
      .select(cols.map(col): _*)

  /** k-NN as a DataFrame: (query_id, id, item, dist, rank).
    * ≙ `vicinity.query` (`vicinity.py:114-138`): distances clipped ≥ 0,
    * indices joined back to items, ascending by (dist, id).
    */
  def queryDf(queries: DataFrame, k: Int): DataFrame =
    withItems(strategy.query(prepared, queries, k),
      "query_id", "id", "item", "dist", "rank")

  /** Store/index introspection manifest — the dataset-card of an index:
    * backend, physical strategy, metric, row count, dimensionality,
    * vector storage, plus user metadata. Everything is already held on
    * the facade, so this costs no jobs. */
  def describe: Map[String, String] = Map(
    "backend" -> backend.name,
    "index" -> strategy.name,
    "metric" -> metric.name,
    "count" -> count.toString,
    "dim" -> dim.toString,
    "store_vectors" -> storeVectors.toString) ++ metadata

  /** Metadata-filtered k-NN at the facade level — PRE-filter semantics
    * (the q_knn_filtered / q_ivf_filtered_knn convention): the predicate
    * gates the prepared store BEFORE the kernel, so k results survive
    * arbitrarily selective filters. The predicate ranges over the store
    * columns (`id`, `item`, and any extra ingested columns — strategies
    * pass them through prepare untouched). */
  def queryFilteredDf(queries: DataFrame, k: Int,
      predicate: org.apache.spark.sql.Column): DataFrame = {
    // queryFiltered, NOT query: the graph strategies' driver-local fast
    // path ignores the frame it is handed, so query(where(...)) would
    // silently drop the predicate there (advice r11)
    val res = strategy.queryFiltered(prepared.where(predicate), queries, k)
    withItems(res, "query_id", "id", "item", "dist", "rank")
  }

  /** Disk-resident serving at the FACADE level — the deployment story's
    * API face over [[graft.index.DiskServing]]: persist the serving
    * layout once at build time and answer top-k straight off it with no
    * resident index ([[save]]/[[load]] remain the reference-parity
    * portability format; this is the query-optimized one, partitioned
    * for pruning). Capability-gated per physical strategy — the
    * per-backend surface-gating convention [[insert]]/[[delete]]
    * already use: the IVF/quantized families, the binary family, the
    * graph family, and the LSH family serve from disk; BASIC raises (an
    * exact scan has no
    * structure to prune — there is nothing a layout could serve that a
    * plain parquet table does not already). */
  def writeServingIndex(path: String): Unit = strategy match {
    case d: graft.index.DiskServing => d.writeServingIndex(prepared, path)
    case _ => throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) has no disk-serving layout.")
  }

  /** The strategy's [[graft.index.DiskServing]] face, or the gating
    * error every facade disk entry point shares. */
  private def diskServing: graft.index.DiskServing = strategy match {
    case d: graft.index.DiskServing => d
    case _ => throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) has no disk-serving layout.")
  }

  /** Top-k from a [[writeServingIndex]] layout — same output schema as
    * [[queryDf]]. `item` comes from the layout where the family carries
    * it out of the scan (the IVF family: its layout holds the items the
    * facade wrote and appended), with no store read; every other family
    * joins it from the store by id. */
  def queryFromDiskDf(path: String, queries: DataFrame, k: Int): DataFrame =
    withItems(diskServing.queryFromDisk(spark, path, queries, k),
      "query_id", "id", "item", "dist", "rank")

  /** Radius search from the serving layout (verdict r12 #3 — the
    * strategy layer served radius/filtered/delete from disk but the
    * facade exposed only top-k): same output schema as
    * [[queryThresholdDf]], same capability gating as every disk entry
    * point plus the family's own `supportsDiskThreshold` flag. */
  def queryThresholdFromDiskDf(path: String, queries: DataFrame,
      threshold: Double, maxK: Int = 100): DataFrame = {
    requireThresholdMaxK(maxK)
    val d = diskServing
    if (!d.supportsDiskThreshold) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) does not serve " +
        "threshold queries from disk.")
    val res = d.queryThresholdFromDisk(spark, path, queries, threshold, maxK)
    withItems(res, "query_id", "id", "item", "dist")
  }

  /** Metadata-filtered k-NN from the serving layout — PRE-filter
    * semantics like [[queryFilteredDf]]; the predicate ranges over the
    * layout's columns (extra ingested columns ride in the layout, so it
    * reaches the parquet scan). Same output schema as [[queryDf]]. */
  def queryFilteredFromDiskDf(path: String, queries: DataFrame, k: Int,
      predicate: org.apache.spark.sql.Column): DataFrame = {
    val d = diskServing
    if (!d.supportsDiskFiltered) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) does not serve " +
        "filtered queries from disk.")
    val res = d.queryFilteredFromDisk(spark, path, queries, k, predicate)
    withItems(res, "query_id", "id", "item", "dist", "rank")
  }

  /** Integer Hamming-radius search from the serving layout — the BINARY
    * family's native range-search shape (FAISS `IndexBinaryFlat
    * .range_search` takes a bit radius; a metric-units threshold is
    * [[queryThresholdFromDiskDf]]'s job — one parameter carrying two unit
    * systems would silently diverge). Inclusive `<= bits`, (dist, id)
    * rank capped at maxK; `dist` is the integer Hamming distance. */
  def queryHammingFromDiskDf(path: String, queries: DataFrame, bits: Int,
      maxK: Int = 100): DataFrame = {
    requireThresholdMaxK(maxK)
    val d = diskServing
    if (!d.supportsDiskHamming) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) does not serve " +
        "Hamming-radius queries from disk.")
    val res = d.queryHammingFromDisk(spark, path, queries, bits, maxK)
    withItems(res, "query_id", "id", "item", "dist", "rank")
  }

  /** Delete against the serving layout — partition-scoped rewrite (cell
    * families) or tombstone generation (graph family). `rows` must carry
    * `id`; the IVF family computes the touched cell FROM the vector, so
    * it requires `vector` too. Returns rows removed / newly tombstoned. */
  def deleteFromDisk(path: String, rows: DataFrame,
      writerTag: Option[String] = None): Long = {
    val d = diskServing
    if (!d.supportsDiskDelete) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) does not delete " +
        "from disk.")
    // the tag threads to the delete's claim (tomb slot on the graph
    // families, the del lease on the rewrite families) exactly as
    // insertIntoServing's does to the append claim (review r18: a
    // crashed delete's replay in a NEW process needs its stable
    // identity to reclaim its slot)
    d.deleteFromDisk(spark, path, rows,
      writerTag.getOrElse(graft.core.Generations.defaultWriterTag))
  }

  /** Compact the serving layout at `path` — fold committed append
    * generations (and spent tombstones, where the family keeps them)
    * back to a single-generation state (verdict r14 #3: the
    * append/delete maintenance loop closes with its fold step behind
    * the same capability-gated facade). Served results are identical
    * before and after; appends continue on the compacted layout. */
  def compactServing(path: String,
      writerTag: Option[String] = None): Unit = {
    val d = diskServing
    if (!d.supportsCompaction) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) has no compactable " +
        "serving layout.")
    // the tag is the maintenance marker's identity — a crashed
    // compaction's re-run in a NEW process reclaims its marker only
    // under the same stable tag (review r18)
    d.compactServing(spark, path,
      writerTag.getOrElse(graft.core.Generations.defaultWriterTag))
  }

  /** Ops dashboard for a serving layout (verdict r12 stretch #8 —
    * [[describe]] covers the in-memory index; the CRUD story needs the
    * disk one): size, partition shape, and — for the graph family — the
    * generation/tombstone state from the sidecar. Metadata-only: one
    * recursive listing plus a sidecar read, zero Spark jobs. */
  def describeServing(path: String): Map[String, String] = {
    diskServing // same capability gate as every other disk entry point
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"no serving layout at $path")
    val sum = fs.getContentSummary(root)
    val base = Map(
      "path" -> path,
      "index" -> strategy.name,
      "bytes" -> sum.getLength.toString,
      "files" -> sum.getFileCount.toString,
      // the maintenance dashboard's routing fact (r16): whether the
      // staleness monitors' reading is actionable via rebuildServing on
      // this family, or compactServing is the whole maintenance story
      "supports_rebuild" -> diskServing.supportsRebuild.toString)
    // Sidecar fields are read null-safely (advice r13: a foreign or
    // hand-edited sidecar must produce a marked generic answer, not an
    // NPE): a sidecar missing any expected field degrades to the base map
    // plus an explicit "sidecar" -> "unrecognized" marker.
    def fields(meta: com.fasterxml.jackson.databind.JsonNode,
        family: String, keys: Seq[(String, com.fasterxml.jackson.databind
          .JsonNode => String)]): Map[String, String] =
      if (keys.forall { case (k, _) => meta.get(k) != null })
        base ++ (("family" -> family) +: keys.map { case (k, f) =>
          k -> f(meta.get(k)) })
      else base ++ Map("family" -> family, "sidecar" -> "unrecognized")
    def asInt(n: com.fasterxml.jackson.databind.JsonNode): String =
      n.asInt().toString
    if (FsIO.exists(s"$path/_graph_meta.json")) {
      val meta = new ObjectMapper().readTree(FsIO.read(s"$path/_graph_meta.json"))
      fields(meta, "graph", Seq(
        "buckets" -> asInt, "n_layers" -> asInt, "generations" -> asInt,
        "entries" -> ((n: com.fasterxml.jackson.databind.JsonNode) =>
          n.size().toString),
        "m" -> asInt, "ef_search" -> asInt)) ++
        // the tombstone counter lives in its own sidecar (advice r17:
        // split so append and delete commits never rewrite each other)
        Map("tombstone_generations" ->
          graft.index.GraphLayout.tombstoneGens(path).toString)
    } else if (FsIO.exists(s"$path/_lsh_meta.json")) {
      // the LSH layout nests its partitioning one level down
      // (postings/_pk=…, vectors/_nb=…), so the flat first-level count
      // below would read it as an empty cells layout
      val meta = new ObjectMapper().readTree(FsIO.read(s"$path/_lsh_meta.json"))
      val posts = new org.apache.hadoop.fs.Path(s"$path/postings")
      // distinct _pk directories across generations (generation layouts
      // nest _gen above _pk; pre-generation layouts have _pk first)
      val nPosts =
        if (fs.exists(posts))
          fs.listStatus(posts).flatMap { st =>
            val n = st.getPath.getName
            if (n.startsWith("_gen="))
              fs.listStatus(st.getPath).map(_.getPath.getName).toSeq
            else Seq(n)
          }.filter(_.startsWith("_pk=")).distinct.length
        else 0
      val gNode = meta.get("generations")
      fields(meta, "lsh", Seq(
        "n_tables" -> asInt, "n_bits" -> asInt,
        "sub_buckets" -> asInt, "vec_buckets" -> asInt)) ++
        Map("postings_partitions" -> nPosts.toString,
          "generations" ->
            (if (gNode == null) "1" else gNode.asInt().toString))
    } else if (FsIO.exists(s"$path/_nn_serving_meta.json")) {
      // the NN-descent layout is the graph template's single-layer case
      // (vectors/_gen=…/_nb=…, graph/_gen=…/_nb=…); tombstone state
      // reported like the HNSW branch (r15 — the family now takes
      // tombstone deletes), null-safe for pre-r15 sidecars
      val meta = new ObjectMapper()
        .readTree(FsIO.read(s"$path/_nn_serving_meta.json"))
      fields(meta, "nn_graph", Seq(
        "buckets" -> asInt, "n_neighbors" -> asInt, "generations" -> asInt,
        "entries" -> ((n: com.fasterxml.jackson.databind.JsonNode) =>
          n.size().toString))) ++
        Map("tombstone_generations" ->
          graft.index.GraphLayout.tombstoneGens(path).toString)
    } else if (FsIO.exists(s"$path/_bq_serving_meta.json")) {
      // the binary layout nests its partitioning one level down like the
      // LSH layout (mih/_gen=…/_pk=… since the r15 generation layout;
      // mih/_pk=… pre-generation), so count distinct _pk dirs across
      // generations
      val meta = new ObjectMapper()
        .readTree(FsIO.read(s"$path/_bq_serving_meta.json"))
      val mihRoot = new org.apache.hadoop.fs.Path(s"$path/mih")
      val nMih =
        if (fs.exists(mihRoot))
          fs.listStatus(mihRoot).flatMap { st =>
            val n = st.getPath.getName
            if (n.startsWith("_gen="))
              fs.listStatus(st.getPath).map(_.getPath.getName).toSeq
            else Seq(n)
          }.filter(_.startsWith("_pk=")).distinct.length
        else 0
      val gNode = meta.get("generations")
      fields(meta, "binary", Seq("vec_buckets" -> asInt)) ++
        Map("mih_partitions" -> nMih.toString,
          "generations" ->
            (if (gNode == null) "1" else gNode.asInt().toString))
    } else if (FsIO.exists(s"$path/_pq_serving_meta.json") ||
        FsIO.exists(s"$path/_sq8_serving_meta.json")) {
      // the flat-codes layouts (r16): one id-bucketed vectors/ sub-layout
      // nesting _gen above _nb — count distinct buckets across
      // generations (the LSH/BQ nested-count idiom)
      val metaFile = if (FsIO.exists(s"$path/_pq_serving_meta.json"))
        "_pq_serving_meta.json" else "_sq8_serving_meta.json"
      val meta = new ObjectMapper().readTree(FsIO.read(s"$path/$metaFile"))
      val vecRoot = new org.apache.hadoop.fs.Path(s"$path/vectors")
      val nB =
        if (fs.exists(vecRoot))
          fs.listStatus(vecRoot).flatMap { st =>
            val n = st.getPath.getName
            if (n.startsWith("_gen="))
              fs.listStatus(st.getPath).map(_.getPath.getName).toSeq
            else Seq(n)
          }.filter(_.startsWith("_nb=")).distinct.length
        else 0
      fields(meta, "codes", Seq(
        "vec_buckets" -> asInt, "generations" -> asInt, "dim" -> asInt)) ++
        Map("codes_family" ->
          Option(meta.get("family")).map(_.asText()).getOrElse("?"),
          "vector_partitions" -> nB.toString)
    } else if (FsIO.exists(s"$path/_ivf_serving_meta.json")) {
      // the cell families' GENERATION serving layout (r16): `_gen=N`
      // nests above `_centroid=c`, so count distinct cell dirs across
      // generations (the LSH/BQ nested-count idiom)
      val meta = new ObjectMapper()
        .readTree(FsIO.read(s"$path/_ivf_serving_meta.json"))
      val nCells = fs.listStatus(root).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_gen="))
          fs.listStatus(st.getPath).map(_.getPath.getName).toSeq
        else Seq.empty
      }.filter(_.startsWith("_centroid=")).distinct.length
      fields(meta, "cells", Seq(
        "nlist" -> asInt, "generations" -> asInt)) ++
        Map("partition_key" -> "_centroid",
          "partitions" -> nCells.toString)
    } else {
      // flat cell/bucket layouts: the first directory level IS the
      // partition key (_centroid= / _pk= / …) — count it without
      // reading data
      val parts = fs.listStatus(root).map(_.getPath.getName)
        .filter(_.contains("="))
      val key = parts.headOption.map(_.takeWhile(_ != '=')).getOrElse("")
      base ++ Map(
        "family" -> "cells",
        "partition_key" -> key,
        "partitions" -> parts.length.toString)
    }
  }

  /** Retrain a serving layout's LEARNED state (codebook, ranges,
    * rotation, graph) on its CURRENT live rows and atomically swap the
    * retrained layout in — the actuator the staleness monitors point at
    * (`q_index_staleness` / `q_ivf_cell_skew` say WHEN; appends
    * deliberately never retrain, FAISS add-after-train parity, so this
    * is the one operation that acts on their reading). Returns the NEW
    * facade handle, whose strategy holds the retrained state matching
    * the new sidecar; THIS instance's next serving call against the
    * layout is rejected by the codebook guard — by design, exactly one
    * instance owns a layout's current state. Capability-gated like
    * every disk entry point: LSH/BQ refuse with a targeted message
    * (their hash state is seed-deterministic — nothing to retrain;
    * compactServing is their complete maintenance story). */
  def rebuildServing(path: String,
      writerTag: Option[String] = None): Vicinity = {
    val d = diskServing
    // Probe the layout's committed rows for the facade's 'item' column
    // BEFORE retraining (advice r16): d.rebuildServing atomically swaps
    // the retrained layout in, so a post-mutation check on a
    // strategy-written layout would rebuild it anyway, discard the
    // freshly-trained owner strategy (for the cell/codes families no
    // live instance would then hold the new codebook), and claim
    // nothing happened. A parquet schema probe is footer-only — cheap.
    if (d.supportsRebuild) {
      val rowsDir = {
        val vp = new org.apache.hadoop.fs.Path(s"$path/vectors")
        val fs = vp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(vp)) s"$path/vectors" else path
      }
      require(spark.read.parquet(rowsDir).schema.fieldNames
          .contains("item"),
        s"layout at $path carries no 'item' column — it was written at " +
          "the strategy level, not by this facade; rebuild it through " +
          "the owning strategy's rebuildServing (refused before " +
          "mutating the layout)")
    } // capability refusals fall through to d.rebuildServing's message
    val r = d.rebuildServing(spark, path,
      writerTag.getOrElse(graft.core.Generations.defaultWriterTag))
    val cached = r.store
      .select(col("id").cast("long").as("id"), col("item"), col("vector"))
      .cache()
    val n = cached.count()
    val dm = if (n == 0) 0
      else cached.select(size(col("vector"))).head.getInt(0)
    new Vicinity(spark, cached, backend, args, metadata, storeVectors,
      r.strategy, r.prepared.cache(), n, dm)
  }

  /** Layout doctor ([[graft.index.ServingFsck]]): verify the serving
    * layout's crash-window invariants — sidecar present and recognized,
    * orphan generations invisible, staged/retired leftovers hidden,
    * no duplicate ids, cross-sub-layout row accounting, a live entry
    * set — against the actual directory tree, one row per check:
    * (component, check, status ok|warn|fail, observed). Diagnosis only;
    * the mutation paths sweep their own leftovers. */
  def fsckServing(path: String): DataFrame =
    diskServing.fsckServing(spark, path)

  /** Driver-side result, one list per query vector of (item, dist) pairs —
    * the reference's `SimilarityResult` shape (`datatypes.py:12-16`).
    */
  def query(vectors: Seq[Seq[Double]], k: Int = 10): Seq[Seq[(String, Double)]] = {
    val res = queryDf(queriesDf(vectors), k)
      .select("query_id", "item", "dist", "rank").collect()
    val byQ = res.groupBy(_.getLong(0))
    vectors.indices.map { i =>
      byQ.getOrElse(i.toLong, Array.empty[Row]).sortBy(_.getInt(3))
        .map(r => (r.getString(1), r.getDouble(2))).toSeq
    }
  }

  /** 1-D convenience (`vicinity.py:129-131` promotes 1-D to batch). */
  def queryOne(vector: Seq[Double], k: Int = 10): Seq[(String, Double)] =
    query(Seq(vector), k).head

  /** max_k must be positive at the facade: the reference's threshold
    * semantics are top-max_k-then-filter (`vicinity.py:140-165`), under
    * which max_k <= 0 is an always-empty query on every ANN backend —
    * while the IVF family IGNORES the cap entirely (FAISS range-search
    * parity, `IvfStrategy.queryThreshold`). Failing fast here keeps the
    * two backend conventions from silently diverging on a nonsensical
    * argument: a caller wanting "uncapped" passes a cap above the store
    * size (the IVF family returns identical rows for ANY positive cap). */
  private def requireThresholdMaxK(maxK: Int): Unit =
    require(maxK >= 1,
      s"max_k must be >= 1, got $maxK (top-max_k-then-filter semantics: " +
        "pass a cap above the store size for an effectively uncapped " +
        "radius search)")

  /** ≙ `vicinity.query_threshold` (`vicinity.py:140-165`). */
  def queryThresholdDf(queries: DataFrame, threshold: Double,
      maxK: Int = 100): DataFrame = {
    requireThresholdMaxK(maxK)
    val res = strategy.queryThreshold(prepared, queries, threshold, maxK)
    withItems(res, "query_id", "id", "item", "dist")
  }

  def queryThreshold(vectors: Seq[Seq[Double]], threshold: Double = 0.5,
      maxK: Int = 100): Seq[Seq[(String, Double)]] = {
    val res = queryThresholdDf(queriesDf(vectors), threshold, maxK)
      .select("query_id", "item", "dist").collect()
    val byQ = res.groupBy(_.getLong(0))
    vectors.indices.map { i =>
      byQ.getOrElse(i.toLong, Array.empty[Row])
        .map(r => (r.getString(1), r.getDouble(2))).toSeq
    }
  }

  /** ≙ `get_vector_by_index` (`vicinity.py:58-68`): bounds-checked; requires
    * the vector store. */
  def getVectorByIndex(ids: Seq[Long]): Seq[Seq[Double]] = {
    if (!storeVectors) throw new IllegalStateException(
      "No vector store was provided. Pass storeVectors=true on index creation.")
    if (ids.exists(i => i < 0 || i >= count))
      throw new IndexOutOfBoundsException("Index out of bounds.")
    val got = store.where(col("id").isin(ids: _*))
      .select("id", "vector").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    ids.map(got)
  }

  def length: Long = count // ≙ __len__ (vicinity.py:70-72)

  /** ≙ `insert` (`vicinity.py:236-253`): validates aligned lengths and dim.
    * New rows get ids `count..count+n-1` (list-extend semantics). Note the
    * reference does NOT reject duplicate items — neither do we.
    */
  /** shared insert plumbing: per-backend gating (ANNOY `annoy.py:120-122`
    * and PYNNDESCENT `pynndescent.py:75-77` reject insertion in the
    * reference), aligned-length and dimension validation, list-extend id
    * assignment — returns the increment frame in the store schema */
  private def ingestRows(items: Seq[String],
      vectors: Seq[Seq[Double]]): DataFrame = {
    if (backend == Backend.Annoy || backend == Backend.Pynndescent ||
        !strategy.supportsInsert) throw new UnsupportedOperationException(
      s"Backend ${backend.name} does not support insertion.")
    if (items.length != vectors.length) throw new IllegalArgumentException(
      s"Your tokens and vectors are not the same length: ${items.length} != ${vectors.length}")
    if (vectors.exists(_.length != dim)) throw new IllegalArgumentException(
      "The inserted vectors must have the same dimension as the backend.")
    val rows = items.zip(vectors).zipWithIndex.map { case ((it, v), i) =>
      Row(count + i, it, v)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      store.schema)
  }

  private def grown(newStore: DataFrame, newPrepared: DataFrame,
      n: Int): Vicinity =
    new Vicinity(spark, newStore, backend, args, metadata, storeVectors,
      strategy, newPrepared, count + n, dim)

  def insert(items: Seq[String], vectors: Seq[Seq[Double]]): Vicinity = {
    val newDf = ingestRows(items, vectors)
    // incremental maintenance: only the appended rows are prepared
    // (normalized/hashed/assigned), ≙ basic.py:34-51
    val newStore = store.unionByName(newDf).cache()
    val newPrepared = strategy.prepareIncrement(prepared, newDf, newStore).cache()
    grown(newStore, newPrepared, items.length)
  }

  /** [[insert]] COMPOSED WITH a serving layout — the deployment loop in
    * one facade call: the increment lands in the in-memory prepared
    * frame AND as a committed generation of the layout at `path`
    * (strategy-level pieces: `HnswStrategy.appendGraphIndex`,
    * `LshStrategy.appendServingIndex` — sidecar-commits-last, replay
    * overwrites itself), so [[queryDf]] and [[queryFromDiskDf]] agree
    * the moment this returns. Gated by BOTH the insert surface (ANNOY/
    * PYNNDESCENT reject insertion — reference parity — even though
    * their physical strategies could append) and the family's
    * appendable-layout support (every layout family appends as of r16 —
    * graph/LSH/BQ generations since r14/r15, the cell families through
    * the shared `_gen=N`-per-touched-cell machinery; BASIC has no
    * layout). `writerTag`, when given, names the logical writer for the
    * append's generation claim (r17 multi-writer safety,
    * [[graft.core.Generations.claimAppendGeneration]]) — a fleet of
    * facade writers appending to one layout each pass their own stable
    * identity; omitted, the per-JVM default applies. */
  def insertIntoServing(path: String, items: Seq[String],
      vectors: Seq[Seq[Double]], writerTag: Option[String] = None): Vicinity = {
    val newDf = ingestRows(items, vectors)
    // capability routing, not per-family instanceof — the DiskServing
    // trait's founding rule (its scaladoc: "a serving tier routes on
    // capability flags instead of per-family reflection")
    val d = diskServing
    if (!d.supportsDiskAppend) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) has no appendable " +
        "serving layout.")
    val newStore = store.unionByName(newDf).cache()
    val newPrepared = d.appendToServing(spark, path, prepared, newDf,
      writerTag.getOrElse(graft.core.Generations.defaultWriterTag)).cache()
    grown(newStore, newPrepared, items.length)
  }

  /** ≙ `delete` (`vicinity.py:255-283`): for each distinct token, delete the
    * FIRST matching item occurrence (all duplicate copies of a token in the
    * argument consume that same single occurrence — `vicinity.py:265-272`);
    * raise if any token matches nothing. Surviving rows are re-indexed
    * 0..n-1 in id order (list-pop semantics).
    */
  def delete(tokens: Seq[String]): Vicinity = {
    // only BASIC supports delete in the reference (basic.py:48-51; every
    // other backend raises, e.g. faiss.py:163-165, hnsw.py:103-105)
    if (backend != Backend.Basic || !strategy.supportsDelete)
      throw new UnsupportedOperationException(
        s"Backend ${backend.name} does not support deletion.")
    val distinctTokens = tokens.distinct
    val tokDf = spark.createDataFrame(
      spark.sparkContext.parallelize(distinctTokens.map(Row(_)), 1),
      StructType(Seq(StructField("item", StringType, nullable = false))))
    // first occurrence of each matched token value
    val w = Window.partitionBy("item").orderBy("id")
    val firstMatches = store.join(tokDf, Seq("item"), "left_semi")
      .withColumn("occ", row_number().over(w)).where(col("occ") === 1)
      .select("id", "item")
    val matched = firstMatches.select("item").distinct()
      .collect().map(_.getString(0)).toSet
    val missing = distinctTokens.filterNot(matched)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"Tokens ${missing.mkString(", ")} were not in the vector space.")
    val survivors = store.join(firstMatches.select("id"), Seq("id"), "left_anti")
    val reindexed = Vicinity.zipWithId(
      survivors.orderBy("id").select("item", "vector"))
    Vicinity.build(spark, reindexed, backend, args, metadata, storeVectors,
      strategy)
  }

  /** ≙ `save` (`vicinity.py:167-202`). Directory format (FIXTURES.md §2):
    * `data.json` (metadata + backend_type + items when the store is small),
    * `arguments.json`, `store/vectors.parquet` (always written — with the
    * vector column only when storeVectors; dropping it ≙ store_vectors=False).
    */
  def save(dir: String, overwrite: Boolean = false): Unit = {
    if (FsIO.exists(dir) && !overwrite)
      throw new IllegalArgumentException(s"Path $dir already exists.")
    FsIO.mkdirs(dir)
    val mapper = new ObjectMapper()
    // items must be JSON-serializable (vicinity.py:191-196 raises otherwise).
    // Plain strings always are; items that claim to be JSON OBJECTS
    // (leading '{') must actually parse. Validation is distributed — no
    // driver-side cap.
    val isMalformed = udf { (it: String) =>
      try { Vicinity.jsonValidator.readTree(it); false }
      catch { case _: Exception => true }
    }
    val bad = store.select("item")
      .where(col("item").startsWith("{") && isMalformed(col("item")))
      .limit(1).collect()
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"Item is not JSON-serializable: ${bad.head.getString(0).take(80)}")
    val root = mapper.createObjectNode()
    root.put("backend_type", backend.name)
    root.put("count", count)
    root.put("dim", dim)
    root.put("store_vectors", storeVectors)
    val meta = root.putObject("metadata")
    metadata.foreach { case (k, v) => meta.put(k, v) }
    FsIO.write(s"$dir/data.json",
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    val argsNode = mapper.createObjectNode()
    args.toJsonFields.foreach {
      case (k, v: String) => argsNode.put(k, v)
      case (k, v: Int) => argsNode.put(k, v)
      case (k, v: Long) => argsNode.put(k, v)
      case (k, v: Double) => argsNode.put(k, v)
      case (k, v: Boolean) => argsNode.put(k, v)
      case (k, null) => argsNode.putNull(k)
      case (k, v) => argsNode.put(k, String.valueOf(v))
    }
    FsIO.write(s"$dir/arguments.json",
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(argsNode))
    // the prepared frame IS the index (≙ the reference backend's vectors.npy
    // / index.bin file); the optional store/ dir is the raw-vector side
    // store, present only with store_vectors=True (vicinity.py:199-202)
    strategy.writeIndex(prepared, s"$dir/index/data.parquet")
    strategy.saveAux(dir)
    if (storeVectors) {
      store.write.mode("overwrite").parquet(s"$dir/store/vectors.parquet")
    }
  }

  /** Hub-export item promotion ≙ `push_to_hub`'s dataset conversion
    * (`/root/reference/vicinity/integrations/huggingface.py:51-60`): items
    * that are JSON objects become real columns; any other items land in a
    * single `_vicinity_items` column. Vectors ride along as an array column
    * when the store keeps them. The returned frame can be written to any
    * Hadoop-FS URI — the offline equivalent of the hub round-trip (Q10).
    */
  def itemsAsColumns(): DataFrame = {
    // the '{' prefix test only PRESELECTS inference candidates;
    // membership is decided by an actual JSON-OBJECT parse per row
    // (verdict r17 #4: a plain string that merely starts with '{' used
    // to join the promotion and surface as all-NULL columns — the
    // reference dispatches on isinstance(dict), huggingface.py:51, so
    // a non-parsing item must land in `_vicinity_items`)
    val candidates = store.where(ltrim(col("item")).startsWith("{"))
      .select("item")
    // schema = the UNION of keys across ALL parsing object items (one
    // distributed inference pass), matching the reference's HF export
    // which unions dict keys across items (huggingface.py:51-54) — a
    // single sampled row would silently drop columns of heterogeneous
    // dicts; non-parsing candidates surface only as _corrupt_record,
    // which is dropped (an all-corrupt candidate set = no object items)
    val inferred = spark.read
      .json(candidates.as(org.apache.spark.sql.Encoders.STRING)).schema
    val fields = inferred.fields.filterNot(_.name == "_corrupt_record")
    val base =
      if (fields.nonEmpty) {
        // the corrupt-record sentinel must not collide with a REAL item
        // key (review r18: a duplicate field name breaks from_json)
        val sentinel = Iterator.iterate("_graft_corrupt")(_ + "_")
          .dropWhile(n => fields.exists(_.name == n)).next()
        val schema = StructType(fields :+ org.apache.spark.sql.types
          .StructField(sentinel, org.apache.spark.sql.types.StringType))
        val withParse = store.select(col("id"), col("item"),
          from_json(col("item"), schema,
            Map("columnNameOfCorruptRecord" -> sentinel))
            .as("_s"),
          col("vector"))
          .withColumn("_obj", ltrim(col("item")).startsWith("{") &&
            col("_s").isNotNull && col("_s")(sentinel).isNull)
        val promoted = fields.toSeq.map(f =>
          when(col("_obj"), col("_s")(f.name)).as(f.name))
        // reference parity on a homogeneous object corpus: no
        // `_vicinity_items` column at all; it appears only when some
        // item did NOT parse as an object (and is NULL on object rows)
        val anyPlain = withParse.where(!col("_obj")).limit(1).count() > 0
        val plainCol =
          if (anyPlain)
            Seq(when(!col("_obj"), col("item")).as("_vicinity_items"))
          else Seq.empty
        withParse.select(
          (col("id") +: promoted) ++ plainCol :+ col("vector"): _*)
      } else {
        store.select(col("id"), col("item").as("_vicinity_items"),
          col("vector"))
      }
    if (storeVectors) base else base.drop("vector")
  }

  /** Export the full index directory to any URI (`s3a://`, `hdfs://`, local
    * path) — format identical to [[save]]; `Vicinity.load` reads it back. */
  def pushToUri(uri: String, overwrite: Boolean = false): Unit =
    save(uri, overwrite)

  /** Recall/QPS evaluation ≙ `vicinity.evaluate` (`vicinity.py:328-393`):
    * exact ground truth on the same metric, recall@k with epsilon per the
    * ann-benchmarks methodology, QPS timed around the strategy's query only.
    * Cosine/euclidean only (`vicinity.py:341`).
    */
  def evaluate(queryVectors: Seq[Seq[Double]], k: Int = 10,
      epsilon: Double = 1e-3): (Double, Double) =
    evaluateImpl(queryVectors, k, epsilon,
      q => strategy.query(prepared, q, k))

  /** [[evaluate]] grading a DISK-SERVED index (verdict r13 #6 stretch —
    * the recall/QPS harness graded in-memory strategies only, but the
    * numbers a deployment actually serves come off its
    * [[writeServingIndex]] layout): same exact ground truth, same recall
    * methodology, with the timed pass running [[queryFromDiskDf]]'s
    * strategy path against the layout at `path`. Capability-gated like
    * every disk entry point. */
  def evaluateFromDisk(path: String, queryVectors: Seq[Seq[Double]],
      k: Int = 10, epsilon: Double = 1e-3): (Double, Double) = {
    val d = diskServing
    evaluateImpl(queryVectors, k, epsilon,
      q => d.queryFromDisk(spark, path, q, k))
  }

  /** Recall/QPS for the THRESHOLD (radius) serving shape (verdict r14
    * #4 — [[evaluate]] graded only top-k, so a deployment tuning
    * `maxK`/`rerankFactor` for radius workloads was flying blind):
    * ground truth is the UNCAPPED exact strict-`<` radius set at the
    * same threshold (strict because every ANN family's threshold
    * contract is strict-`<`, `hnsw.py:111`; uncapped because the cap is
    * precisely the knob under test — a `maxK` smaller than the true
    * result set shows up as lost recall). Recall per query =
    * |served ∩ truth| / |truth|, a query with an empty truth set
    * contributing 1.0 (nothing to find), averaged over ALL queries;
    * QPS timed around the strategy run only. */
  def evaluateThreshold(queryVectors: Seq[Seq[Double]], threshold: Double,
      maxK: Int = 100): (Double, Double) =
    evaluateSetImpl(queryVectors, thresholdTruth(threshold),
      q => strategy.queryThreshold(prepared, q, threshold, maxK))

  /** [[evaluateThreshold]] grading the DISK-SERVED radius path — the
    * numbers a threshold deployment actually serves come off its layout.
    * Capability-gated like every disk entry point. */
  def evaluateThresholdFromDisk(path: String,
      queryVectors: Seq[Seq[Double]], threshold: Double,
      maxK: Int = 100): (Double, Double) = {
    val d = diskServing
    if (!d.supportsDiskThreshold) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) does not serve " +
        "threshold queries from disk.")
    evaluateSetImpl(queryVectors, thresholdTruth(threshold),
      q => d.queryThresholdFromDisk(spark, path, q, threshold, maxK))
  }

  /** Recall/QPS for the integer Hamming-radius serving shape: ground
    * truth is the brute packed-sign Hamming scan at the same (bits,
    * maxK) — integer-exact and maxK-capped with the serving path's own
    * (dist, id) rank, so the MIH-served result should match it
    * EXACTLY (recall 1.0 by pigeonhole, spec-pinned); the number a
    * deployment watches here is QPS of the pruned layout read. Signs
    * are scale-invariant, so the truth needs no normalization and no
    * strategy internals. */
  def evaluateHammingFromDisk(path: String,
      queryVectors: Seq[Seq[Double]], bits: Int,
      maxK: Int = 100): (Double, Double) = {
    val d = diskServing
    if (!d.supportsDiskHamming) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) does not serve " +
        "Hamming-radius queries from disk.")
    val truth = (q: DataFrame) =>
      graft.functions.TopK.topKPerGroup(
        signHammingPairs(q).where(col("dist") <= bits),
        Seq("query_id"), "id", "dist", maxK)
    evaluateSetImpl(queryVectors, truth,
      q => d.queryHammingFromDisk(spark, path, q, bits, maxK))
  }

  /** Recall/QPS for the FILTERED serving shape — the last of the four
    * served query shapes under the harness (top-k / radius / Hamming /
    * filtered): ground truth is the exact top-k over the
    * PREDICATE-SURVIVING store (pre-filter semantics, the serving
    * contract), recall@k with the [[evaluate]] epsilon methodology.
    * The graph families' filtered serving IS an exact scan of the
    * survivors, so their recall is 1.0 by construction (spec-pinned);
    * the candidate-pruned families (LSH/BQ) report the real
    * candidates ∩ survivors recall a deployment would tune against. */
  def evaluateFiltered(queryVectors: Seq[Seq[Double]], k: Int,
      predicate: org.apache.spark.sql.Column,
      epsilon: Double = 1e-3): (Double, Double) =
    evaluateImpl(queryVectors, k, epsilon,
      q => strategy.queryFiltered(prepared.where(predicate), q, k),
      gtStore = store.where(predicate))

  /** [[evaluateFiltered]] grading the DISK-SERVED filtered path;
    * capability-gated like every disk entry point. The predicate ranges
    * over the layout's columns (metadata rides in the layout). */
  def evaluateFilteredFromDisk(path: String,
      queryVectors: Seq[Seq[Double]], k: Int,
      predicate: org.apache.spark.sql.Column,
      epsilon: Double = 1e-3): (Double, Double) = {
    val d = diskServing
    if (!d.supportsDiskFiltered) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) does not serve " +
        "filtered queries from disk.")
    evaluateImpl(queryVectors, k, epsilon,
      q => d.queryFilteredFromDisk(spark, path, q, k, predicate),
      gtStore = store.where(predicate))
  }

  /** the brute packed-sign Hamming scan of the store against `q`:
    * (query_id, id, dist) — the Hamming evaluations' ground truth */
  private def signHammingPairs(q: DataFrame): DataFrame = {
    def signs(v: String) = graft.functions.VectorFunctions.pack_sign_bits(
      col(v).cast("array<double>"))
    BqStrategy.hammingPairs(store.select(col("id"), signs("vector").as("_sig")),
      q.select(col("query_id"), signs("qvector").as("_qsig")))
  }

  /** uncapped exact strict-`<` radius truth on the facade's metric —
    * the inclusive exact scan masked to `< threshold` (the boundary
    * rows an ANN path's strict contract never returns) */
  private def thresholdTruth(threshold: Double): DataFrame => DataFrame = {
    if (metric != Metric.Cosine && metric != Metric.Euclidean)
      throw new IllegalArgumentException(
        s"Unsupported metric for evaluation: ${metric.name}")
    val exact = ExactStrategy(metric)
    q => {
      val exactPrepared = exact.prepare(store)
      exact.queryThreshold(exactPrepared, q, threshold, Int.MaxValue)
        .where(col("dist") < threshold)
    }
  }

  /** the shared set-recall harness: truth and run produce
    * (query_id, id, …) frames; recall = per-query overlap fraction
    * driven from the truth side, QPS timed around `run` only (the
    * [[evaluateImpl]] timing discipline) */
  /** The Hamming-radius evaluate GRID (r17 — the harness-cost shave):
    * semantically `bitsGrid.map(b => evaluateHammingFromDisk(path, _,
    * b, maxK))` plus each point's served result COUNT, but paying ONE
    * brute signature pass at `max(bitsGrid)` — every grid point's
    * ground truth is that pair set filtered to `dist <= bits` and
    * re-cut at maxK (radius truths nest) — and ONE timed served read
    * per point, reused for both its recall and its count (the
    * per-point entry pays a fresh brute scan per radius and a second
    * served read for the count). Returns
    * `(bits, qps, recall, nResults)` per grid point. */
  def evaluateHammingGridFromDisk(path: String,
      queryVectors: Seq[Seq[Double]], bitsGrid: Seq[Int],
      maxK: Int = 100): Seq[(Int, Double, Double, Long)] = {
    require(bitsGrid.nonEmpty, "empty bits grid")
    val d = diskServing
    if (!d.supportsDiskHamming) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) does not serve " +
        "Hamming-radius queries from disk.")
    val q = queriesDf(queryVectors)
    val pairs = signHammingPairs(q).where(col("dist") <= bitsGrid.max)
      .cache()
    pairs.count()
    val cnt = org.apache.spark.sql.functions.count(lit(1))
    val res = bitsGrid.map { bits =>
      // LAZY truth (r21): it reads only the cached `pairs`, and its sole
      // consumer is the recall job AFTER the timed served read — the old
      // cache()+count() paid one sequential driver job per grid point for
      // a frame the recall job recomputes cheaply off the cache
      val truth = graft.functions.TopK.topKPerGroup(
        pairs.where(col("dist") <= bits), Seq("query_id"), "id",
        "dist", maxK).select("query_id", "id")
      val t0 = System.nanoTime()
      val approx = d.queryHammingFromDisk(spark, path, q, bits, maxK)
        .cache()
      val n = approx.count()
      val elapsed = (System.nanoTime() - t0) / 1e9
      val qps = queryVectors.length / math.max(elapsed, 1e-9)
      val perQ = truth.groupBy("query_id").agg(cnt.as("t"))
      val hits = approx.select("query_id", "id")
        .join(truth, Seq("query_id", "id"), "left_semi")
        .groupBy("query_id").agg(cnt.as("h"))
      val recall = q.select("query_id")
        .join(perQ, Seq("query_id"), "left")
        .join(hits, Seq("query_id"), "left")
        .select(when(coalesce(col("t"), lit(0L)) === 0L, lit(1.0))
          .otherwise(coalesce(col("h"), lit(0L)).cast("double") / col("t"))
          .as("r"))
        .agg(avg("r")).head.getDouble(0)
      approx.unpersist()
      (bits, qps, recall, n)
    }
    pairs.unpersist()
    res
  }

  /** The radius evaluate GRID (r18, verdict r17 #3 — the Hamming-grid
    * shave applied to the threshold shape): semantically
    * `thresholdGrid.map(th => evaluateThresholdFromDisk(path, _, th,
    * maxK))` plus each point's served result COUNT, but paying ONE
    * exact pass at `max(thresholdGrid)` — radius truths nest, so each
    * grid point's uncapped strict-`<` truth is that pair set
    * re-filtered — and ONE timed served read per point, reused for
    * both its recall and its count (the per-point entry pays a fresh
    * exact scan per radius and a SECOND served read for the count).
    * Returns `(threshold, qps, recall, nResults)` per grid point. */
  def evaluateThresholdGridFromDisk(path: String,
      queryVectors: Seq[Seq[Double]], thresholdGrid: Seq[Double],
      maxK: Int = 100): Seq[(Double, Double, Double, Long)] = {
    require(thresholdGrid.nonEmpty, "empty threshold grid")
    val d = diskServing
    if (!d.supportsDiskThreshold) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) does not serve " +
        "threshold queries from disk.")
    if (metric != Metric.Cosine && metric != Metric.Euclidean)
      throw new IllegalArgumentException(
        s"Unsupported metric for evaluation: ${metric.name}")
    val q = queriesDf(queryVectors)
    val exact = ExactStrategy(metric)
    val exactPrepared = exact.prepare(store)
    // inclusive <= max(grid): a superset of every point's strict-< set
    val pairs = exact.queryThreshold(exactPrepared, q,
      thresholdGrid.max, Int.MaxValue).select("query_id", "id", "dist")
      .cache()
    pairs.count()
    val cnt = org.apache.spark.sql.functions.count(lit(1))
    val res = thresholdGrid.map { th =>
      // LAZY truth (r21): a filter over the cached `pairs`, consumed only
      // by the recall job after the timed read — the per-point
      // cache()+count() job bought nothing (see the Hamming grid)
      val truth = pairs.where(col("dist") < th)
        .select("query_id", "id")
      val t0 = System.nanoTime()
      val approx = d.queryThresholdFromDisk(spark, path, q, th, maxK)
        .cache()
      val n = approx.count()
      val elapsed = (System.nanoTime() - t0) / 1e9
      val qps = queryVectors.length / math.max(elapsed, 1e-9)
      val perQ = truth.groupBy("query_id").agg(cnt.as("t"))
      val hits = approx.select("query_id", "id")
        .join(truth, Seq("query_id", "id"), "left_semi")
        .groupBy("query_id").agg(cnt.as("h"))
      val recall = q.select("query_id")
        .join(perQ, Seq("query_id"), "left")
        .join(hits, Seq("query_id"), "left")
        .select(when(coalesce(col("t"), lit(0L)) === 0L, lit(1.0))
          .otherwise(coalesce(col("h"), lit(0L)).cast("double") / col("t"))
          .as("r"))
        .agg(avg("r")).head.getDouble(0)
      approx.unpersist()
      (th, qps, recall, n)
    }
    pairs.unpersist()
    res
  }

  /** The filtered evaluate GRID (r18, verdict r17 #3): semantically
    * `kGrid.map(k => evaluateFilteredFromDisk(path, _, k, predicate))`
    * plus each point's served result COUNT, but paying ONE exact top-k
    * pass over the predicate-surviving store at `max(kGrid)` — top-k
    * truths nest by rank, so each point's `gt_kth` cut comes from the
    * ranked superset — and ONE timed served read per point, reused for
    * both its recall and its count. Returns `(k, qps, recall,
    * nResults)` per grid point. */
  def evaluateFilteredGridFromDisk(path: String,
      queryVectors: Seq[Seq[Double]], kGrid: Seq[Int],
      predicate: org.apache.spark.sql.Column,
      epsilon: Double = 1e-3): Seq[(Int, Double, Double, Long)] = {
    require(kGrid.nonEmpty, "empty k grid")
    val d = diskServing
    if (!d.supportsDiskFiltered) throw new UnsupportedOperationException(
      s"Backend ${backend.name} (${strategy.name}) does not serve " +
        "filtered queries from disk.")
    if (metric != Metric.Cosine && metric != Metric.Euclidean)
      throw new IllegalArgumentException(
        s"Unsupported metric for evaluation: ${metric.name}")
    val q = queriesDf(queryVectors)
    val exact = ExactStrategy(metric)
    val exactPrepared = exact.prepare(store.where(predicate)).cache()
    val ranked = exact.query(exactPrepared, q, kGrid.max).cache()
    ranked.count()
    val res = kGrid.map { k =>
      // LAZY per-point cut (r21): `gt` is a rank filter + tiny aggregate
      // over the cached `ranked` superset, consumed only by the recall
      // job after the timed read — no per-point materialization job
      val gt = ranked.where(col("rank") <= k)
        .groupBy("query_id").agg(max("dist").as("gt_kth"))
      val t0 = System.nanoTime()
      val approx = d.queryFilteredFromDisk(spark, path, q, k, predicate)
        .cache()
      val n = approx.count()
      val elapsed = (System.nanoTime() - t0) / 1e9
      val qps = queryVectors.length / math.max(elapsed, 1e-9)
      val hits = approx.join(gt, "query_id")
        .groupBy("query_id")
        .agg(sum(when(col("dist") <= col("gt_kth") + epsilon, 1)
          .otherwise(0)).as("hits"))
      val recall = gt.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select((coalesce(col("hits"), lit(0)) / k.toDouble).as("r"))
        .agg(avg("r")).head.getDouble(0)
      approx.unpersist()
      (k, qps, recall, n)
    }
    ranked.unpersist(); exactPrepared.unpersist()
    res
  }

  private def evaluateSetImpl(queryVectors: Seq[Seq[Double]],
      truthFor: DataFrame => DataFrame,
      run: DataFrame => DataFrame): (Double, Double) = {
    val q = queriesDf(queryVectors)
    // cached but LAZY (r21): both truth consumers live in the ONE recall
    // job scheduled after the timed served read, so the upfront count()
    // was a pure extra sequential driver job; the cache still makes the
    // second consumer read the first's materialization within that job
    val truth = truthFor(q).select("query_id", "id").cache()
    val t0 = System.nanoTime()
    val approx = run(q).cache()
    approx.count()
    val elapsed = (System.nanoTime() - t0) / 1e9
    val qps = queryVectors.length / math.max(elapsed, 1e-9)
    // qualified: the facade's `count` field shadows functions.count here
    val cnt = org.apache.spark.sql.functions.count(lit(1))
    val perQ = truth.groupBy("query_id").agg(cnt.as("t"))
    val hits = approx.select("query_id", "id")
      .join(truth, Seq("query_id", "id"), "left_semi")
      .groupBy("query_id").agg(cnt.as("h"))
    val recall = q.select("query_id")
      .join(perQ, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(when(coalesce(col("t"), lit(0L)) === 0L, lit(1.0))
        .otherwise(coalesce(col("h"), lit(0L)).cast("double") / col("t"))
        .as("r"))
      .agg(avg("r")).head.getDouble(0)
    truth.unpersist(); approx.unpersist()
    (qps, recall)
  }

  /** `gtStore` lets the filtered shape grade against the
    * predicate-surviving store; every other shape grades against the
    * full store (the default). */
  private def evaluateImpl(queryVectors: Seq[Seq[Double]], k: Int,
      epsilon: Double, run: DataFrame => DataFrame,
      gtStore: DataFrame = store): (Double, Double) = {
    if (metric != Metric.Cosine && metric != Metric.Euclidean)
      throw new IllegalArgumentException(
        s"Unsupported metric for evaluation: ${metric.name}")
    val q = queriesDf(queryVectors)
    val exact = ExactStrategy(metric)
    val exactPrepared = exact.prepare(gtStore).cache()
    // cached: referenced by both the hits join and the per-query average
    val gt = exact.query(exactPrepared, q, k)
      .groupBy("query_id").agg(max("dist").as("gt_kth")).cache()
    val t0 = System.nanoTime()
    val approx = run(q).cache()
    approx.count()
    val elapsed = (System.nanoTime() - t0) / 1e9
    val qps = queryVectors.length / math.max(elapsed, 1e-9)
    // recall per query = #(approx_dist <= gt_kth + eps) / k, averaged over
    // ALL queries (vicinity.py:386-392) — a query with zero approximate
    // results counts as recall 0, so drive the average from the ground
    // truth side, not from whatever the ANN strategy returned
    val hits = approx.join(gt, "query_id")
      .groupBy("query_id")
      .agg(sum(when(col("dist") <= col("gt_kth") + epsilon, 1)
        .otherwise(0)).as("hits"))
    val recall = gt.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select((coalesce(col("hits"), lit(0)) / k.toDouble).as("r"))
      .agg(avg("r")).head.getDouble(0)
    approx.unpersist(); exactPrepared.unpersist(); gt.unpersist()
    (qps, recall)
  }
}

object Vicinity {

  /** The FLEET doctor (r17): walk every serving layout and snapshot
    * store directly under `root` — the deployment's serving directory —
    * and emit one long frame `(layout, family, component, check,
    * status, observed)`, dispatching each child on its own sidecar
    * marker ([[graft.index.ServingFsck.fleet]]). The monitoring scrape
    * that trends what the per-layout [[Vicinity.fsckServing]] reports
    * point-in-time; unrecognized children surface as loud fail rows. */
  def fsckAll(spark: SparkSession, root: String): DataFrame =
    graft.index.ServingFsck.fleet(spark, root)

  /** one Jackson mapper per executor JVM (readTree is thread-safe) instead
    * of one per validated row */
  private[api] lazy val jsonValidator = new ObjectMapper()

  /** Contiguous 0..n-1 id assignment — materializes the reference's
    * positional index at ingest (SURVEY.md §1.4): row i of `df`, in
    * partition order, gets id i. The ids are assigned over `df`
    * re-rooted on its own one-to-one shuffle ([[GraftShims.reroot]]),
    * so the store's lineage is cut here, once per build: the first job
    * (`zipWithIndex`'s count) writes `df`'s rows to shuffle files, the
    * cache job and every later read task read them from there, and a
    * read task carries a partition index, never the rows of a
    * `parallelize`d source. */
  private[graft] def zipWithId(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(
      StructField("id", LongType, nullable = false) +: df.schema.fields)
    val rows = GraftShims.reroot(df).rdd.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(i +: r.toSeq)
    }
    spark.createDataFrame(rows, schema)
  }

  /** per-backend metric gates, build-time — each reference backend
    * validates `supported_metrics` in `from_vectors` and raises
    * (`basic.py:101,121`, `hnsw.py:25`, `annoy.py:27`, `faiss.py:48`,
    * `pynndescent.py:24`, `usearch.py:27`, `voyager.py:25`) */
  private val backendMetrics: Map[Backend, Set[Metric]] = Map(
    Backend.Basic -> Set(Metric.Cosine, Metric.Euclidean),
    Backend.Hnsw -> Set(Metric.Cosine, Metric.Euclidean),
    Backend.Annoy -> Set(Metric.Cosine, Metric.Euclidean),
    Backend.Faiss -> Set(Metric.Cosine, Metric.Euclidean),
    Backend.Pynndescent ->
      Set(Metric.Cosine, Metric.Euclidean, Metric.Manhattan),
    Backend.Usearch -> Set(Metric.Cosine, Metric.InnerProduct,
      Metric.L2Squared, Metric.Hamming, Metric.Tanimoto),
    Backend.Voyager -> Set(Metric.Cosine, Metric.Euclidean))

  private def strategyFor(backend: Backend, args: BackendArgs): IndexStrategy = {
    if (!backendMetrics(backend).contains(args.metric))
      throw new IllegalArgumentException(
        s"Metric '${args.metric.name}' is not supported by the " +
          s"${backend.name} backend.")
    backend match {
      case Backend.Basic => ExactStrategy(args.metric)
      case Backend.Faiss =>
        val fa = args.asInstanceOf[BackendArgs.FaissArgs]
        // engine default: probe ~1/8 of the cells (floor 4) — FAISS's
        // nprobe=1 default is tuned for huge nlist; at the reference's
        // nlist=100 default it would scan 1% of the store and recall
        // collapses on spread-out data
        val nprobe = math.max(4, fa.nlist / 8)
        fa.indexType match {
          // strict-< range search, not BASIC's inclusive <= (faiss.py:180-183)
          case "flat" => ExactStrategy(fa.metric, strictThreshold = true)
          case "scalar" => Sq8Strategy(fa.metric, rerank = false)
          case "pq" => PqStrategy(fa.metric, fa.m, fa.nbits)
          case "ivfpq" => IvfPqStrategy(fa.metric, fa.nlist, nprobe,
            m = fa.m, nbits = fa.nbits)
          case "ivfpqr" => IvfPqStrategy(fa.metric, fa.nlist, nprobe,
            m = fa.m, nbits = fa.nbits, rerank = true)
          case "ivf" => IvfStrategy(fa.metric, fa.nlist, nprobe)
          // IVF cells over SQ codes, the reference's IndexIVFScalarQuantizer
          // composition (faiss.py:105-110)
          case "ivf_scalar" => IvfSq8Strategy(fa.metric, fa.nlist, nprobe)
          case "lsh" => LshStrategy(fa.metric)
          case "hnsw" => HnswStrategy(fa.metric) // IndexHNSWFlat, faiss.py:102
          // ENGINE EXTENSIONS beyond the reference's 9 types (faiss.py:87-114):
          // FAISS's own binary family (IndexBinaryFlat / IndexBinaryIVF)
          // exposed as sign-bit quantization + Hamming coarse scan + exact
          // re-rank; the quantizer is train-free, so `binary` inherits
          // insert/save/load with no aux state and `ivf_binary` persists
          // only its centroids
          case "binary" => BqStrategy(fa.metric)
          case "ivf_binary" => IvfBqStrategy(fa.metric, fa.nlist, nprobe)
          // FAISS's PCAR,PQ transform chain (parametric OPQ): PCA rotation
          // with eigenvalue allocation before the PQ coder
          case "opq" => OpqStrategy(fa.metric, fa.m, fa.nbits)
          case other => throw new IllegalArgumentException(
            s"Unknown FAISS index type: $other")
        }
      // PYNNDESCENT is a genuine NN-descent graph index (the library the
      // reference wraps IS the algorithm) — graph built as an iterative
      // DataFrame job, queries walk it with a batched beam search
      case Backend.Pynndescent =>
        val pa = args.asInstanceOf[BackendArgs.PynndescentArgs]
        NnDescentStrategy(pa.metric, nNeighbors = pa.nNeighbors)
      // USEARCH is HNSW-based (usearch.py:25): cosine rides the genuine
      // hierarchical graph with its (connectivity, expansion_add,
      // expansion_search) knobs mapped onto (m, efConstruction, efSearch);
      // the exotic metrics {ip, l2sq, hamming, tanimoto} (which have no
      // graph-descent distance bound NOR a hyperplane-LSH family here) ride
      // the exact kernel with the backend's ANN threshold shape (top-max_k
      // + strict <, usearch.py:131-139); euclidean is rejected like the
      // reference rejects it
      case Backend.Usearch =>
        val ua = args.asInstanceOf[BackendArgs.UsearchArgs]
        args.metric match {
          case Metric.Cosine => HnswStrategy(Metric.Cosine,
            m = ua.connectivity, efConstruction = ua.expansionAdd,
            efSearch = ua.expansionSearch)
          case _ => // gate above admits only the usearch metric family
            ExactStrategy(args.metric, annThreshold = true)
        }
      // HNSW and VOYAGER (Spotify's hnswlib fork) are the genuine
      // hierarchical-graph backends: layered NN-descent-built graphs with
      // batched greedy descent + beam walk (HnswStrategy) — the graph
      // family's recall/QPS behavior served natively, not LSH-equivalenced
      case Backend.Hnsw =>
        val ha = args.asInstanceOf[BackendArgs.HnswArgs]
        HnswStrategy(args.metric, m = ha.m,
          efConstruction = ha.efConstruction)
      case Backend.Voyager =>
        val va = args.asInstanceOf[BackendArgs.VoyagerArgs]
        HnswStrategy(args.metric, m = va.m,
          efConstruction = va.efConstruction)
      // ANNOY is a random-projection forest (annoy.py:25-134) — the
      // sign-LSH strategy IS the faithful Spark mapping of that family
      case Backend.Annoy => LshStrategy(args.metric)
    }
  }

  /** The one builder behind [[fromVectorsAndItems]], [[fromDataFrame]]
    * and [[delete]]: `store` is (id, item, vector) from [[zipWithId]],
    * so its lineage is rooted on a shuffle and the driver rows of a
    * `parallelize`d source ship once per build. `store` and the
    * strategy's prepared frame are cached; a read task over either
    * carries only a partition index, and a cache that is evicted or
    * cleared recomputes from the store's shuffle files. */
  private[api] def build(spark: SparkSession, store: DataFrame,
      backend: Backend, args: BackendArgs, metadata: Map[String, String],
      storeVectors: Boolean, strategy: IndexStrategy): Vicinity = {
    val cached = store.cache()
    val n = cached.count()
    val d = if (n == 0) 0 else
      cached.select(size(col("vector"))).head.getInt(0)
    val prepared = strategy.prepare(cached).cache()
    new Vicinity(spark, cached, backend, args, metadata, storeVectors,
      strategy, prepared, n, d)
  }

  /** ≙ `Vicinity.from_vectors_and_items` (`vicinity.py:74-102`). Items and
    * vectors must be aligned (`vicinity.py:49-52`). The pairs are
    * parallelized, one partition per 10 000 of them, and take their
    * positions as ids through [[zipWithId]], the path every build takes:
    * the rows ship to the executors once, and a later read task carries
    * none of them. */
  def fromVectorsAndItems(spark: SparkSession, items: Seq[String],
      vectors: Seq[Seq[Double]], backend: Backend = Backend.Basic,
      args: Option[BackendArgs] = None,
      metadata: Map[String, String] = Map.empty,
      storeVectors: Boolean = false): Vicinity = {
    if (items.length != vectors.length) throw new IllegalArgumentException(
      s"Your items and vectors must have the same length. " +
        s"Your items have length ${items.length}, and your vectors have length ${vectors.length}.")
    val rows = items.zip(vectors).map { case (it, v) => Row(it, v) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, items.length / 10000)),
      StructType(Seq(
        StructField("item", StringType, nullable = false),
        StructField("vector", ArrayType(DoubleType, containsNull = false)))))
    val a = args.getOrElse(BackendArgs.defaultFor(backend))
    build(spark, zipWithId(df), backend, a, metadata, storeVectors,
      strategyFor(backend, a))
  }

  /** DataFrame-first builder for at-scale ingest: any (item, vector) frame. */
  def fromDataFrame(df: DataFrame, itemCol: String, vectorCol: String,
      backend: Backend = Backend.Basic, args: Option[BackendArgs] = None,
      metadata: Map[String, String] = Map.empty,
      storeVectors: Boolean = true): Vicinity = {
    val a = args.getOrElse(BackendArgs.defaultFor(backend))
    val base = df.select(col(itemCol).cast(StringType).as("item"),
      col(vectorCol).cast(ArrayType(DoubleType)).as("vector"))
    build(df.sparkSession, zipWithId(base), backend, a, metadata, storeVectors,
      strategyFor(backend, a))
  }

  /** ≙ `Vicinity.load` (`vicinity.py:204-234`). */
  def load(spark: SparkSession, dir: String): Vicinity = {
    val mapper = new ObjectMapper()
    val data = mapper.readTree(FsIO.read(s"$dir/data.json"))
    val argsJson = mapper.readTree(FsIO.read(s"$dir/arguments.json"))
    val backend = Backend.fromString(data.get("backend_type").asText())
    val metric = Metric.fromString(argsJson.get("metric").asText())
    val storeVectors = data.get("store_vectors").asBoolean()
    // restore EVERY persisted hyperparameter, not just metric/index_type —
    // round-tripped args must equal what was saved (base.py:26-32 parity)
    def i(field: String, dflt: Int): Int =
      Option(argsJson.get(field)).map(_.asInt(dflt)).getOrElse(dflt)
    val args: BackendArgs = backend match {
      case Backend.Basic => BackendArgs.BasicArgs(metric)
      case Backend.Hnsw => BackendArgs.HnswArgs(metric,
        efConstruction = i("ef_construction", 200), m = i("m", 16))
      case Backend.Annoy => BackendArgs.AnnoyArgs(metric, trees = i("trees", 100))
      case Backend.Pynndescent => BackendArgs.PynndescentArgs(metric,
        nNeighbors = i("n_neighbors", 15))
      case Backend.Faiss => BackendArgs.FaissArgs(metric,
        indexType = Option(argsJson.get("index_type")).map(_.asText()).getOrElse("flat"),
        nlist = i("nlist", 100), m = i("m", 8), nbits = i("nbits", 8),
        refineNbits = i("refine_nbits", 8))
      case Backend.Usearch => BackendArgs.UsearchArgs(metric,
        connectivity = i("connectivity", 16),
        expansionAdd = i("expansion_add", 128),
        expansionSearch = i("expansion_search", 64))
      case Backend.Voyager => BackendArgs.VoyagerArgs(metric,
        efConstruction = i("ef_construction", 200), m = i("m", 16))
    }
    val metadata = Option(data.get("metadata")).map { m =>
      m.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    // prefer the raw side store (exact round-trip of ingested vectors);
    // fall back to the index frame (normalized for cosine — same content
    // the reference's basic backend persists, basic.py:144-147)
    // A saved index can predate the build-time per-backend metric gates
    // (e.g. usearch+euclidean or basic+manhattan, which earlier versions
    // served). Name the incompatibility explicitly instead of surfacing the
    // build-path error for an index that already exists on disk.
    if (!backendMetrics(backend).contains(metric))
      throw new IllegalArgumentException(
        s"Index at '$dir' was saved with backend '${backend.name}' and " +
          s"metric '${metric.name}' — a combination this version rejects " +
          s"at build time (reference parity: the ${backend.name} backend " +
          s"supports ${backendMetrics(backend).map(_.name).toSeq.sorted
            .mkString("{", ", ", "}")}). Rebuild the index with a " +
          "supported metric to migrate it.")
    val strategy = strategyFor(backend, args)
    strategy.loadAux(dir) // restore codebooks etc. — load NEVER retrains
    // the persisted index frame IS the prepared frame: use it as-is rather
    // than re-running prepare (re-normalizing already-normalized vectors
    // would drift distances in the last bit), so load → query answers
    // exactly what was answered before save (≙ base.py:26-32: the index
    // file is read back, not rebuilt). Cache it ONCE: without a raw side
    // store the facade's store view is a projection of the same cached
    // frame, not a second cache holding the data twice.
    val preparedDf = spark.read.parquet(s"$dir/index/data.parquet").cache()
    val storeDf =
      if (storeVectors)
        spark.read.parquet(s"$dir/store/vectors.parquet")
          .select("id", "item", "vector").cache()
      else preparedDf.select("id", "item", "vector")
    val n = storeDf.count()
    val d = if (n == 0) 0 else storeDf.select(size(col("vector"))).head.getInt(0)
    new Vicinity(spark, storeDf, backend, args, metadata, storeVectors,
      strategy, preparedDf, n, d)
  }
}
