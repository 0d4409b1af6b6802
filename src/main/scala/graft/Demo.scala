package graft

import scala.util.Random

import graft.api.Vicinity
import graft.core.{Backend, BackendArgs, Metric}

/** Library walkthrough through the public API — build, query, threshold,
  * insert, delete, save/load, evaluate, across the three physical
  * strategies. `sbt "runMain graft.Demo"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    // every file the walkthrough reads or writes is local
    val spark = GraftSession(sys.props("java.io.tmpdir"))

    val rnd = new Random(42)
    val n = 2000; val dim = 16
    val vectors = Seq.fill(n)(Seq.fill(dim)(rnd.nextDouble()))
    val items = (0 until n).map(i => s"item$i")

    val v = Vicinity.fromVectorsAndItems(spark, items, vectors,
      Backend.Basic, storeVectors = true)
    println(s"count=${v.length} dim=${v.dim}")
    println("top3 for item0: " + v.queryOne(vectors.head, 3)
      .map { case (it, d) => f"$it:$d%.4f" }.mkString(", "))
    println("radius<=0.1 hits for item0: " +
      v.queryThreshold(Seq(vectors.head), 0.1).head.length)

    val v2 = v.insert(Seq("fresh"), Seq(Seq.fill(dim)(0.5)))
    println("after insert, nearest to 0.5-vec: " +
      v2.queryOne(Seq.fill(dim)(0.5), 1).head)
    val v3 = v2.delete(Seq("fresh"))
    println(s"after delete count=${v3.length}")

    v.save("/tmp/graft_demo_idx", overwrite = true)
    val loaded = Vicinity.load(spark, "/tmp/graft_demo_idx")
    println("loaded top1 for item7: " + loaded.queryOne(vectors(7), 1).head)
    println("vector_by_index(7) == original: " +
      (loaded.getVectorByIndex(Seq(7L)).head == vectors(7)))

    for ((b, a) <- Seq(
        (Backend.Annoy, None),
        (Backend.Faiss, Some(BackendArgs.FaissArgs(Metric.Cosine, "ivf", nlist = 16))))) {
      val ann = Vicinity.fromVectorsAndItems(spark, items, vectors, b, a)
      val (qps, recall) = ann.evaluate(vectors.take(20), k = 10)
      println(f"${b.name}%-8s qps=$qps%.1f recall@10=$recall%.3f")
    }

    // streaming: grow an index from an append stream, then query it
    locally {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Seq[Double])]
      val dir = VerifyIO.scratchDir("graft_demo_stream")
      val q = graft.streaming.StreamOps.appendVectorsToIndex(
        input.toDF().toDF("id", "item", "vector"),
        s"$dir/index", s"$dir/ckpt").start()
      input.addData((0L, "s0", Seq(1.0, 0.0)), (1L, "s1", Seq(0.0, 1.0)))
      q.processAllAvailable(); q.stop()
      val grown = spark.read.parquet(s"$dir/index")
      println(s"streamed index rows=${grown.count()}")
    }

    // similarity joins + range join over the testdata
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("_words", graft.prep.TextFunctions.words(col("text")))
        .select(col("doc_id"),
          graft.prep.TextFunctions.shinglesOfWords(col("_words"), 3).as("sh"))
      val nearDups = graft.prep.Dedup.ngramJaccardJoin(docs, "doc_id", "sh", 0.5)
      println(s"ngram-jaccard>=0.5 pairs: ${nearDups.count()}")
      val ev = Queries.eventsTable(spark, "/root/testdata/sf0.001")
        .select(col("event_id"), col("ts_s"))
      val withinMinute = graft.operators.RangeJoin.pointsInWindow(
        ev, ev.select(col("ts_s").as("ts2")), "ts_s", "ts2", 60)
      println(s"event pairs within trailing 60s: ${withinMinute.count()}")
    }

    // composed quantized index: IVF cells over SQ8 codes (faiss ivf_scalar)
    locally {
      val ivfsq = Vicinity.fromVectorsAndItems(spark, items, vectors,
        Backend.Faiss, Some(BackendArgs.FaissArgs(Metric.Cosine, "ivf_scalar",
          nlist = 16)))
      println("ivf_scalar top3 for item0: " + ivfsq.queryOne(vectors.head, 3)
        .map { case (it, d) => f"$it:$d%.4f" }.mkString(", "))
    }

    // training-data pipeline: near-dup clusters, contamination, packing
    locally {
      import org.apache.spark.sql.functions._
      val dir = "/root/testdata/sf0.001"
      val clusters = Queries.queryMap("q_dedup_clusters")(spark, dir)
      println(s"near-dup clusters: ${clusters.select("cluster_id").distinct().count()} " +
        s"covering ${clusters.count()} docs")
      val leaks = Queries.queryMap("q_contamination")(spark, dir)
      println(s"benchmark-contaminated docs: ${leaks.count()}")
      val packed = Queries.queryMap("q_pack_chunks")(spark, dir)
      println(s"packed chunks: ${packed.agg(countDistinct("source", "chunk_id")).head.getLong(0)}")
    }

    // multimodal: binary payloads -> stub decode -> feature buckets
    locally {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val media = graft.prep.Multimodal.asMedia(docs.limit(20), "doc_id", "text", "image")
      val decoded = graft.prep.Multimodal.decodeStub(media)
      val buckets = graft.prep.Multimodal.featureBuckets(decoded)
      println("media buckets: " + buckets.groupBy("bucket").count()
        .orderBy("bucket").collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}")
        .mkString(" "))
    }
    spark.stop()
  }
}
