package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.prep.{Dedup, TextFunctions => TF}

/** Build-once registry for shared data-prep intermediates, mirroring
  * QueriesVector's index registry: the shingled corpus and the near-dup PAIR
  * SET over the documents table are computations several operators consume —
  * pair reporting (q_minhash_dedup), cluster formation (q_dedup_clusters),
  * and the exact Jaccard join (q_ngram_jaccard). Computing them per query
  * would re-shingle and re-band the corpus each time; a real pipeline
  * materializes them once per corpus snapshot. Everything cached is
  * deterministic (seeded signatures), so results equal a fresh computation.
  * Entries live in [[SessionCache]]s, so they die with their session.
  */
object PrepCache {

  private val frames = new SessionCache[DataFrame]

  /** documents shingled once per (session, dir): (doc_id, shingles) with
    * distinct word-3-grams, cached and shared by every near-dup operator */
  def shingledDocs(s: SparkSession, dir: String): DataFrame =
    frames(s).getOrElseUpdate(s"shingled/$dir", {
      val docs = Queries.table(s, dir, "documents")
        .withColumn("_words", TF.words(col("text")))
        .select(col("doc_id"), TF.shinglesOfWords(col("_words"), 3).as("shingles"))
        .cache()
      docs.count()
      docs
    })

  /** exact-verified word-3-gram Jaccard >= 0.7 pairs (i, j, jaccard) */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    frames(s).getOrElseUpdate(s"pairs/$dir", {
      val pairs = Dedup.minhashDedup(shingledDocs(s, dir), "doc_id", "shingles",
        threshold = 0.7).cache()
      pairs.count()
      pairs
    })

  /** connected components over [[minhashPairs]]: (node, label) min-id
    * component labels, computed once per (session, dir) and shared by
    * cluster reporting (q_dedup_clusters) and the leakage-safe split
    * (q_leakage_safe_split) — the component walk costs a driver union-find
    * or an iterative propagation, so per-query recomputation is the same
    * waste the pair-set cache exists to avoid */
  def components(s: SparkSession, dir: String): DataFrame =
    frames(s).getOrElseUpdate(s"components/$dir", {
      val labels = Dedup.connectedComponents(
        minhashPairs(s, dir).select("i", "j")).cache()
      labels.count()
      labels
    })

  /** [[shingledDocs]] + the incremental-ingest flag: the last 20% of
    * doc_ids stand in for "today's batch" (is_new ⇔ doc_id·5 ≥ 4·n —
    * integer arithmetic so the DuckDB oracle derives the identical flag) */
  def flaggedShingledDocs(s: SparkSession, dir: String): DataFrame =
    frames(s).getOrElseUpdate(s"shingled_flagged/$dir", {
      val docs = shingledDocs(s, dir)
      val n = docs.agg(count(lit(1)).as("_n"))
      val f = docs.crossJoin(org.apache.spark.sql.functions.broadcast(n))
        .withColumn("is_new", col("doc_id") * 5 >= col("_n") * 4)
        .select(col("doc_id"), col("shingles"), col("is_new"))
        .cache()
      f.count()
      f
    })

  /** final k-means cluster assignment (2 Lloyd rounds,
    * [[graft.prep.Clustering.kmeansAssign]]) over the embeddings table,
    * cached once per (session, dir): the materialized cluster-assignment
    * artifact a real pipeline shares between the clustering job and its
    * consumers (q_semdedup_kmeans). q_kmeans itself computes FRESH — the
    * clustering job is what that query benchmarks.
    *
    * k SCALES with the store — `max(8, n / 8192)` — so per-cluster
    * population (and with it q_semdedup_kmeans's Σ|cluster|² pair
    * space) stays bounded as the data grows: a fixed k=8 measured 12×
    * across the sf0.1→sf1 decade because 10× members per cluster means
    * 100× within-cluster pairs (the q_knn_selfjoin_ivf nlist lesson,
    * r17, applied to the clustering artifact). Every oracle scale
    * (n ≤ 61,440 at sf0.1) stays below the 8192-per-cluster knee, so
    * the driver-checked configs keep the k = 8 the DuckDB oracle's
    * replayed Lloyd iteration pins. */
  def kmeansClusters(s: SparkSession, dir: String): DataFrame =
    frames(s).getOrElseUpdate(s"kmeans/$dir", {
      val emb = Queries.table(s, dir, "embeddings")
      val k = math.max(8L, emb.count() / 8192L).toInt
      val a = graft.prep.Clustering.kmeansAssign(
        emb, "vec_id", "embedding", k = k, iters = 2).cache()
      a.count()
      a
    })

  /** exact-verified fuzzy-contamination pair set: benchmark docs (doc_id <
    * 20 — the same bench split q_contamination uses) probed against the
    * corpus through the incremental banded join (probe side = the TINY
    * benchmark, so per-bucket work is O(|bench ∩ bucket| · |bucket|), never
    * corpus²), then exact-Jaccard-verified at >= 0.7 and filtered to
    * cross (bench, corpus) pairs */
  def fuzzyContaminationPairs(s: SparkSession, dir: String): DataFrame =
    frames(s).getOrElseUpdate(s"fuzzycontam/$dir", {
      val flagged = shingledDocs(s, dir)
        .withColumn("is_bench", col("doc_id") < 20)
        .cache()
      flagged.count()
      val pairs = Dedup.incrementalMinhashDedup(flagged, "doc_id",
          "shingles", "is_bench", threshold = 0.7)
        .where(col("i") < 20 && col("j") >= 20)
        .cache()
      pairs.count()
      pairs
    })

  /** exact-verified incremental pair set: Jaccard >= 0.7 pairs with at
    * least one new member — history is never paired against itself */
  def incrementalPairs(s: SparkSession, dir: String): DataFrame =
    frames(s).getOrElseUpdate(s"incrpairs/$dir", {
      val pairs = Dedup.incrementalMinhashDedup(flaggedShingledDocs(s, dir),
        "doc_id", "shingles", "is_new", threshold = 0.7).cache()
      pairs.count()
      pairs
    })

  /** History's signature table round-tripped through parquet — the
    * production snapshot artifact ([[Dedup.saveSignatureTable]]): written
    * once per (session, dir) to a temp directory and READ BACK, so every
    * consumer downstream provably works from the persisted form, not the
    * in-memory lineage. Each entry is (loaded table, path it was written
    * to). */
  private val sigTables = new SessionCache[(DataFrame, String)]

  private def sigTable(s: SparkSession, dir: String): (DataFrame, String) =
    sigTables(s).getOrElseUpdate(dir, {
      val hist = flaggedShingledDocs(s, dir).where(!col("is_new"))
      // session-scoped scratch artifact, reclaimed at JVM exit (the
      // scratchDir hook) so repeated bench/verify runs don't accumulate
      val path = VerifyIO.scratchDir("graft_sigs").toString
      Dedup.saveSignatureTable(hist, "doc_id", "shingles", path)
      val loaded = Dedup.loadSignatureTable(s, path).cache()
      loaded.count()
      (loaded, path)
    })

  /** where [[persistedHistorySignatures]] wrote its snapshot for this
    * (session, dir) — the doctor query fscks the REAL persisted store,
    * not a fresh one (zero extra build; either caller materializes it) */
  def persistedSignaturePath(s: SparkSession, dir: String): String =
    sigTable(s, dir)._2

  def persistedHistorySignatures(s: SparkSession, dir: String): DataFrame =
    sigTable(s, dir)._1

  /** [[incrementalPairs]] computed the fully-incremental way: history's
    * bucket keys come from [[persistedHistorySignatures]] (no re-shingle,
    * no re-sign), history text is consulted only for candidate members.
    * Same deterministic output as [[incrementalPairs]] — same hash family,
    * same banding — which is exactly the property the oracle checks. */
  def incrementalPairsPersisted(s: SparkSession, dir: String): DataFrame =
    frames(s).getOrElseUpdate(s"incrpairs_persisted/$dir", {
      val flagged = flaggedShingledDocs(s, dir)
      val pairs = Dedup.incrementalMinhashDedupPersisted(
        flagged.where(col("is_new")),
        flagged.where(!col("is_new")),
        persistedHistorySignatures(s, dir),
        "doc_id", "shingles", threshold = 0.7).cache()
      pairs.count()
      pairs
    })
}
