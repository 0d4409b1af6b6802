package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.functions.VectorFunctions
import graft.operators.Knn

/** The engine's judge-visible query surface: every entry is a named operator
  * from SURVEY.md §2 with (Spark implementation, DuckDB oracle SQL).
  *
  * Determinism conventions (SURVEY.md §5/§7.4):
  *  - every float column is computed in double and `round`ed to a fixed
  *    number of decimals in BOTH the Spark plan and the oracle SQL;
  *  - every ranking is canonicalized with tie-break on the row id;
  *  - count-like columns are long in both engines.
  *
  * Library conventions for query bodies:
  *  - a plain exact kNN goes through [[graft.operators.Knn.query]] (the
  *    blocked kernel: the query batch is collected at construction), a
  *    radius query through [[graft.operators.Knn.queryThreshold]];
  *  - a top-n by descending score goes through [[graft.functions.TopK.topNByScore]];
  *  - a session-scoped cache is a [[SessionCache]].
  */
object Queries {

  case class Q(name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** a base table of the data dir, read through [[readTable]] */
  private[graft] def table(s: SparkSession, dir: String, name: String): DataFrame =
    readTable(s, s"$dir/$name.parquet")

  /** Base-table read with a per-(session, path) SCHEMA cache (r21):
    * `spark.read.parquet(path)` schedules a 1-task Spark job just to
    * infer the footer schema — per-job profiling showed 1–2 such jobs in
    * EVERY query's construction (~57 ms each on this box's job floor,
    * ~1.5 jobs × 219 queries ≈ 15 s of the bench paid for re-deriving an
    * immutable schema). The schema of a testdata table never changes
    * within a session, so it is inferred once and every later
    * construction passes it explicitly — `.schema(...)` schedules no
    * job. Results are computed from the parquet files on every action,
    * exactly as before; only the metadata job is skipped (the same class
    * of reuse as Spark's own FileStatusCache). Serving-LAYOUT paths are
    * deliberately NOT routed through this cache: layouts gain partition
    * values and sidecar-driven shape across generations.
    *
    * Inference is conf-sensitive for every table with a naive
    * TIMESTAMP column — events, and lineitem and orders, whose dates are
    * TIMESTAMP(MICROS, not UTC-adjusted): nano-epoch generations need
    * `nanosAsLong`, and micros must infer TIMESTAMP, not TIMESTAMP_NTZ,
    * for the epoch cast to be legal. With a cache the FIRST reader pins
    * the schema for the session, so [[inferenceConfs]] are set before
    * any base-table inference, giving every consumer the shape
    * [[eventsTable]] documents regardless of which query reads first.
    *
    * The cache relies on two facts, checked on every read, and a read
    * that breaks one fails naming it: the table's files are the ones the
    * schema was inferred from (base tables are immutable), and the
    * inference confs still hold their pinned values. */
  private val schemaCache = new SessionCache[TableSchema]

  /** a cached base-table schema and the (path, length, mtime) of the
    * files it was inferred from */
  private final case class TableSchema(
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[(String, Long, Long)])

  /** the parquet confs a base-table schema inference reads */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  private def tableFiles(s: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(s.sparkContext.hadoopConfiguration).listFiles(p, true)
    val files = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    files.result().sorted
  }

  private[graft] def readTable(s: SparkSession, path: String): DataFrame = {
    val files = tableFiles(s, path)
    val cached = schemaCache(s).getOrElseUpdate(path, {
      inferenceConfs.foreach { case (k, v) => s.conf.set(k, v) }
      TableSchema(s.read.parquet(path).schema, files)
    })
    if (cached.files != files) throw new IllegalStateException(
      s"base table $path changed on disk after its schema was cached " +
        "for this session; base tables must be immutable while a " +
        "session reads them")
    inferenceConfs.foreach { case (k, v) =>
      if (s.conf.get(k, null) != v) throw new IllegalStateException(
        s"$k is ${s.conf.get(k, null)}, but the cached schema of $path " +
          s"was inferred under $v; the base-table inference confs must " +
          "keep their pinned values for the session")
    }
    s.read.schema(cached.schema).parquet(path)
  }

  /** Scale-adaptive parallelism floor (r20, guide §2.2/§2.5): when a scan
    * yields fewer partitions than the session's parallelism — the
    * one-row-group tiny-file case, where every downstream row-local map
    * and partial aggregate runs on ONE core — round-robin repartition up
    * to the core count. At production scale the input has far more
    * splits than cores and this is the identity (no shuffle appears in
    * the plan). Apply ONLY where results are partition-order-free:
    * row-local maps, integer/count aggregates, order-insensitive sketch
    * merges — never above a floating-point sum whose partial grouping
    * the repartition would re-draw. */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // probe partition count off the frame's OWN QueryExecution (advice
    // r20): `df.rdd` built a SECOND QueryExecution plus a row-deserializer
    // RDD per probe — pure construction overhead on every widened query —
    // while `toRdd` reuses the memoized physical plan
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** The events table, normalized across testdata generations. `ts` has
    * shipped both as parquet TIMESTAMP(NANOS) — which Spark's reader only
    * accepts as a nano-epoch long under `nanosAsLong` — and as
    * TIMESTAMP(MICROS). Detect which shape arrived from the schema and
    * expose the same derived columns either way:
    * `ts_s` = exact epoch seconds (long, floor semantics in both shapes,
    * matching DuckDB's `floor(epoch(ts))`) and `ts_t` = second-truncated
    * timestamp for the window/streaming operators. */
  def eventsTable(s: SparkSession, dir: String): DataFrame = {
    // nanosAsLong + TIMESTAMP-not-NTZ inference confs are pinned inside
    // [[readTable]] before any base-table inference, so they hold no
    // matter which query touches events first
    val raw = readTable(s, s"$dir/events.parquet")
    val tsS = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        floor(col("ts") / 1000000000L).cast("long")
      case _ => // timestamp → long is floorDiv(micros, 1e6): exact floor secs
        col("ts").cast("long")
    }
    raw.withColumn("ts_s", tsS)
      .withColumn("ts_t", timestamp_seconds(col("ts_s")))
  }

  /** embeddings as an (id, vector) store */
  private[graft] def store(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vector"))

  /** the first `n` embeddings as (query_id, qvector) */
  private[graft] def queriesDf(s: SparkSession, dir: String, n: Int): DataFrame =
    table(s, dir, "embeddings").where(col("vec_id") < n)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvector"))

  // ---------------------------------------------------------------- q1_agg
  /** TPC-H Q1-shaped scan+aggregate (SURVEY §2.4 aggregation). */
  private val q1Agg = Q("q1_agg",
    (s, dir) => table(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """))

  // ------------------------------------------------------------ q_knn_cosine
  /** Q1 k-NN top-k per query vector (SURVEY §2.1 Q1), cosine metric.
    * Served from the session-cached exact frame `q_evaluate` grades
    * against — one exact pass for both queries. The shared frame covers
    * n = 10 queries (evaluate's reference-harness width, advice r3); this
    * query keeps its original 5-query surface by filtering, which leaves
    * each query's ranks untouched (rank partitions by query_id). */
  private val qKnnCosine = Q("q_knn_cosine",
    (s, dir) => QueriesVector.exactCosineTopK(s, dir, 10, 10)
      .where(col("query_id") < 5)
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(col("dist"), 6).as("dist"), col("rank")),
    Some("""
      WITH pairs AS (
        SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
               greatest(1 - list_cosine_similarity(CAST(s.embedding AS DOUBLE[]),
                                                   CAST(q.embedding AS DOUBLE[])), 0) AS d
        FROM embeddings s, embeddings q
        WHERE q.vec_id < 5
      ), ranked AS (
        SELECT query_id, neighbor_id, d,
               row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
        FROM pairs
      )
      SELECT query_id, neighbor_id, round(d, 6) AS dist, rank
      FROM ranked WHERE rank <= 10
      ORDER BY query_id, rank
    """))

  // --------------------------------------------------------- q_knn_euclidean
  private val qKnnEuclidean = Q("q_knn_euclidean",
    (s, dir) => Knn.query(store(s, dir), queriesDf(s, dir, 5), 10, Metric.Euclidean)
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(col("dist"), 6).as("dist"), col("rank")),
    Some("""
      WITH pairs AS (
        SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
               list_distance(CAST(s.embedding AS DOUBLE[]),
                             CAST(q.embedding AS DOUBLE[])) AS d
        FROM embeddings s, embeddings q
        WHERE q.vec_id < 5
      ), ranked AS (
        SELECT query_id, neighbor_id, d,
               row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
        FROM pairs
      )
      SELECT query_id, neighbor_id, round(d, 6) AS dist, rank
      FROM ranked WHERE rank <= 10
      ORDER BY query_id, rank
    """))

  // --------------------------------------------------------------- q_sql_knn
  /** Exact top-k expressed ENTIRELY in SQL over the registered kernel
    * functions (`VectorFunctions.register` / `GraftExtensions`) — the
    * `spark.sql(...)` surface answers with the same codegen'd distance
    * expressions the DataFrame API uses. */
  private val qSqlKnn = Q("q_sql_knn",
    (s, dir) => {
      // not Knn.query: this query is the SQL surface by design
      table(s, dir, "embeddings").createOrReplaceTempView("emb")
      s.sql("""
        WITH store AS (
          SELECT vec_id AS id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM emb),
        queries AS (
          SELECT vec_id AS query_id, CAST(embedding AS ARRAY<DOUBLE>) AS q
          FROM emb WHERE vec_id < 3),
        pairs AS (
          SELECT query_id, id, greatest(cosine_distance(v, q), 0D) AS d
          FROM store CROSS JOIN queries),
        ranked AS (
          SELECT query_id, id, d,
                 row_number() OVER (PARTITION BY query_id ORDER BY d, id) AS rank
          FROM pairs)
        SELECT query_id, id AS neighbor_id, round(d, 6) AS dist, rank
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
      """)
    },
    Some("""
      WITH pairs AS (
        SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
               greatest(1 - list_cosine_similarity(CAST(s.embedding AS DOUBLE[]),
                                                   CAST(q.embedding AS DOUBLE[])), 0) AS d
        FROM embeddings s, embeddings q
        WHERE q.vec_id < 3
      ), ranked AS (
        SELECT query_id, neighbor_id, d,
               row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
        FROM pairs
      )
      SELECT query_id, neighbor_id, round(d, 6) AS dist, rank
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank
    """))

  val all: Seq[Q] = Seq(q1Agg, qKnnCosine, qKnnEuclidean, qSqlKnn) ++
    QueriesRelational.all ++ QueriesVector.all ++ QueriesText.all ++
    QueriesAnalytics.all ++ QueriesPipeline.all

  /** sessions whose function registry already holds the kernels */
  private val kernelsRegistered = new SessionCache[Unit]

  /** Every query, with the kernels registered once per session first —
    * the session may come from a caller that never built it through
    * [[GraftSession]]; re-registering per query replaced all twelve
    * functions (one WARN line each) on every call. */
  def queryMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> { (s: SparkSession, dir: String) =>
      kernelsRegistered(s).getOrElseUpdate("kernels",
        VectorFunctions.register(s))
      q.fn(s, dir)
    }).toMap

  def oracleMap: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
