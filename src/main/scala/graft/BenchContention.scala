package graft

import org.apache.spark.sql.functions._

/** Multi-writer contention bench (verdict r18 #3): measure the claim
  * protocol's cost under real contention — N concurrent appenders racing
  * one IVF cell layout, then one compaction cycle — at a given sf dir.
  *
  * What it proves: the ledger cost is O(generations), not O(rows). Each
  * append lands `_gen=N` files of exactly the increment's cells plus one
  * claim-file create + sidecar commit, so the protocol's wall is the
  * claim round-trips (including contention retries, counted below) and
  * never a function of the layout's resident row count. Run it at sf0.1
  * and sf1 (10× rows, same writer/generation grid) and compare:
  * near-equal append walls = the claim path never scans the store.
  *
  * Phases (all on tmp layouts, removed at exit):
  *  1. build the base layout from the even half of the embeddings store;
  *  2. SERIAL baseline: one writer lands writers×gens increments;
  *  3. CONTENTION: `writers` threads land `gens` increments each,
  *     retrying on the loud in-flight-holder refusal the way a
  *     deployment's appender fleet does (bounded sleep+retry, each
  *     retry counted);
  *  4. one `compactServing` cycle folding the generations back to one;
  *  5. teeth: top-k at nprobe = nlist off the compacted layout must
  *     equal the exact full-store answer (a dropped/duplicated
  *     generation loses/forges a neighbor).
  *
  * Prints ONE JSON line, same contract as [[Bench]].
  */
object BenchContention {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val writers = 4
    val gensPer = 3
    val spark = GraftSession(sfDir)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vector"))
    val ivf = graft.index.IvfStrategy(graft.core.Metric.Cosine,
      nlist = 16, nprobe = 16)
    val prep = ivf.prepare(emb.where(col("id") % 2 === 0)).cache()
    val baseRows = prep.count()

    // increment slices, materialized BEFORE any timed window so the
    // timed phases contain only the append protocol itself
    val m = writers * gensPer
    val slices = (0 until m).map { i =>
      val s = emb.where(col("id") % 2 === 1 &&
        pmod(floor(col("id") / 2), lit(m)) === i).cache()
      s.count()
      s
    }
    val incRows = slices.map(_.count()).sum

    def now() = System.nanoTime()
    def secs(n: Long) = math.round(n / 1e6) / 1e3

    def freshLayout(label: String): String = {
      val p = VerifyIO.scratchDir(s"graft_cont_$label")
        .resolve("index").toString
      ivf.writeServingIndex(prep, p)
      p
    }

    // append with the deployment retry loop: the protocol REFUSES loudly
    // while the slot's holder is in flight; the fleet answer is bounded
    // sleep+retry (the sidecar advances when the holder commits). Only
    // the named in-flight refusal retries — anything else is a real bug.
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    def appendRetrying(path: String, rows: org.apache.spark.sql.DataFrame,
        tag: String): Unit = {
      var done = false
      var attempts = 0
      while (!done) {
        try { ivf.appendToServing(spark, path, prep, rows, tag); done = true }
        catch {
          case e: IllegalStateException
              if e.getMessage.contains("claimed by writer") =>
            attempts += 1; retries.incrementAndGet()
            if (attempts > 2000) throw e
            Thread.sleep(20)
        }
      }
    }

    // build wall (reference point: O(rows) by design, unlike the appends)
    val tb0 = now()
    val buildPath = freshLayout("build")
    val buildSec = secs(now() - tb0)

    // phase 2: serial baseline
    val serialPath = freshLayout("serial")
    val ts0 = now()
    slices.foreach(sl => appendRetrying(serialPath, sl, "serial-writer"))
    val serialSec = secs(now() - ts0)

    // phase 3: contention
    val concPath = freshLayout("conc")
    retries.set(0)
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        (0 until gensPer).foreach { g =>
          appendRetrying(concPath, slices(w * gensPer + g), s"writer-$w")
        }
      }, s"appender-$w")
    }
    val tc0 = now()
    threads.foreach(_.start()); threads.foreach(_.join())
    val concSec = secs(now() - tc0)
    val concRetries = retries.get()
    val gensBefore = ivf.committedCounts(spark, concPath).getOrElse("gen", -1)

    // phase 4: one compaction cycle folding the generations back
    val tk0 = now()
    ivf.compactServing(spark, concPath, "maintainer")
    val compactSec = secs(now() - tk0)
    val gensAfter = ivf.committedCounts(spark, concPath).getOrElse("gen", -1)

    // phase 5: teeth — nprobe = nlist serving off the compacted layout
    // equals the exact full-store answer
    val q = emb.where(col("id") < 5)
      .select(col("id").as("query_id"),
        col("vector").cast("array<double>").as("qvector"))
    def rankSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id").cast("long"), col("id").cast("long"),
        col("rank").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val served = rankSet(ivf.queryFromDisk(spark, concPath, q, 10))
    val exact = rankSet(graft.operators.Knn.query(
      emb.select(col("id"),
        col("vector").cast("array<double>").as("vector")),
      q, 10, graft.core.Metric.Cosine))
    val equalExact = served == exact
    // sidecar counts ALL generations including the base _gen=0
    require(gensBefore == 1 + writers * gensPer,
      s"expected ${1 + writers * gensPer} committed generations, " +
        s"got $gensBefore")
    require(equalExact, "compacted layout diverged from the exact answer")

    println(s"""{"metric":"contention","sf":"$sfDir",""" +
      s""""base_rows":$baseRows,"appended_rows":$incRows,""" +
      s""""writers":$writers,"gens_per_writer":$gensPer,""" +
      s""""build_sec":$buildSec,"serial_append_sec":$serialSec,""" +
      s""""concurrent_append_sec":$concSec,"retries":$concRetries,""" +
      s""""generations_before_compact":$gensBefore,""" +
      s""""generations_after_compact":$gensAfter,""" +
      s""""compact_sec":$compactSec,"post_compact_equal_exact":$equalExact}""")
    Seq(buildPath, serialPath, concPath).foreach(p =>
      VerifyIO.deleteRec(new java.io.File(p).getParentFile))
    spark.stop()
  }
}
