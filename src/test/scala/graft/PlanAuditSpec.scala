package graft

/** Regression net over the ENTIRE query surface: no declared query may plan
  * a CartesianProduct. Broadcast nested-loop joins over genuinely tiny
  * frames (a 1-row count, an 8-row pair grid) are fine — CartesianProduct
  * is the operator Spark picks when BOTH sides are too big to broadcast,
  * i.e. exactly the plan that detonates at 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  test("no query in the surface plans a CartesianProduct") {
    val dir = "/root/testdata/sf0.001"
    val offenders = Queries.all.flatMap { q =>
      val plan =
        try Queries.queryMap(q.name)(spark, dir)
          .queryExecution.executedPlan.toString
        catch { case e: Throwable =>
          fail(s"${q.name} failed to plan: ${e.getMessage}") }
      if (plan.contains("CartesianProduct")) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"cartesian plans in: ${offenders.mkString(", ")}")
  }

  test("no query plans an UNPARTITIONED Window (single-partition global sort)") {
    // the r7->r8 class of scale killer, as a surface-wide net: a physical
    // WindowExec with an empty partition spec funnels every row through one
    // partition. Plan strings print `Window [functions], [partitionSpec],
    // [orderSpec]` but OMIT empty spec groups, so group count alone cannot
    // distinguish partitioned-unordered (2 groups, benign) from
    // unpartitioned-ordered (2 groups, the killer). Discriminator: order
    // specs carry ASC/DESC sort directions, partition specs are bare
    // attributes — so the offender shapes are exactly
    //   1 group              (both specs empty: global whole-frame window)
    //   2 groups, last has ASC|DESC  (global ordered window / global rank)
    val dir = "/root/testdata/sf0.001"
    val offenders = Queries.all.flatMap { q =>
      val plan = Queries.queryMap(q.name)(spark, dir)
        .queryExecution.executedPlan.toString
      val bad = plan.linesIterator.exists { line =>
        val i = line.indexOf("Window [")
        if (i < 0) false
        else {
          val groups = line.substring(i).split("\\], \\[")
          groups.length == 1 ||
            (groups.length == 2 &&
              (groups.last.contains(" ASC") || groups.last.contains(" DESC")))
        }
      }
      if (bad) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window in: ${offenders.mkString(", ")}")
  }

  test("no hinted broadcast of an unbounded base-table frame") {
    // verdict r8 #1 as a surface-wide net: a forced broadcast() hint on a
    // frame whose cardinality grows with the corpus (a store-sized
    // projection, a vocabulary-sized aggregate) bypasses Spark's size check
    // and OOMs the driver at 100×. Discriminator for FORCED hints: plan with
    // autoBroadcastJoinThreshold=-1 — the planner then never broadcasts on
    // its own size estimates (which at sf0.001 would legitimately broadcast
    // almost anything), so every surviving BroadcastExchange comes from an
    // explicit hint. Each such exchange whose build subtree reads the
    // documents/embeddings base tables must contain a row-limiting operator
    // between scan and exchange: a scalar aggregate (keys=[], 1 row), the
    // TopK bounded heap, an explicit Limit, or a literal-comparison filter
    // on the scan (a key-range/key-list gate like `vec_id < 50`). Aggregates
    // keyed on data-derived columns (keys=[w]) and bare projections do NOT
    // qualify — those are exactly the vocab-count and store-label shapes
    // this net exists to catch.
    val dir = "/root/testdata/sf0.001"
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val offenders = Queries.all.flatMap { q =>
        val plan = Queries.queryMap(q.name)(spark, dir)
          .queryExecution.executedPlan.toString
        unboundedHintedBroadcasts(plan).map(d => s"${q.name}: $d")
      }
      assert(offenders.isEmpty,
        s"unbounded hinted broadcasts:\n${offenders.mkString("\n")}")
    } finally spark.conf.set(key, prev)
  }

  /** Node text column in a plan-tree line (tree-drawing prefix chars are
    * spaces, ':', '+', '-'); -1 (blank line) sorts as depth 0 so subtree
    * scans stop there. */
  private def indentOf(line: String): Int =
    line.indexWhere(c => !" :+-".contains(c))

  /** True iff some ancestor of line `i` (the chain of lines above with
    * strictly smaller indent) is an InMemoryRelation/InMemoryTableScan.
    * Cached intermediates embed the physical plan they were built with,
    * planned under the AMBIENT broadcast threshold at materialization time —
    * a BroadcastExchange in there is a size-checked planner choice (re-made
    * by AQE at real scale), not a forced hint, so it is out of scope for
    * this net. (Hints inside cached builds would also surface here on a
    * cold session; the source-level guarantee is that prep/Dedup.scala
    * contains no broadcast() calls.) */
  private def underCachedPlan(lines: Vector[String], i: Int): Boolean = {
    var j = i - 1
    var cur = indentOf(lines(i))
    while (j >= 0 && cur > 0) {
      val ij = indentOf(lines(j))
      if (ij >= 0 && ij < cur) {
        if (lines(j).contains("InMemoryRelation") ||
            lines(j).contains("InMemoryTableScan")) return true
        cur = ij
      }
      j -= 1
    }
    false
  }

  /** First line of each BroadcastExchange build subtree that reads the
    * documents/embeddings base tables with no row-limiting operator in
    * between. */
  private def unboundedHintedBroadcasts(plan: String): Seq[String] = {
    val limiter = Seq(
      "keys=\\[\\]",                       // scalar agg -> 1 row
      "topk|KnnTopK",                      // bounded-heap top-k agg or node
      "GlobalLimit|LocalLimit|CollectLimit|TakeOrderedAndProject",
      // literal comparison on a KNOWN key/selective column (doc_id/vec_id
      // point or range selections; term = the 3-word query-term selection
      // bounding bm25/rrf's dfreq), post-scan or pushed into the scan —
      // restricting to named columns keeps incidental guards like
      // size(shingles) > 0 or n_chars > 0 from counting as row-limiting
      // (advice r9: those don't bound the frame)
      "Filter .*(doc_id|vec_id|term)#\\d+L? (<=?|>=?|=) -?\\d",
      "PushedFilters: .*(LessThan|GreaterThan|EqualTo|In)\\((doc_id|vec_id|term)",
      // a `term` field generated from a LITERAL struct array (bm25/rrf's
      // fixed query terms): the downstream keys=[term] aggregate emits at
      // most one row per array literal, bounding the frame at any corpus
      // size regardless of incidental tf > 0 guards
      "Generate explode\\(array\\(struct\\(term, ").map(_.r)
    val lines = plan.linesIterator.toVector
    lines.indices.flatMap { i =>
      if (!lines(i).contains("BroadcastExchange") ||
          underCachedPlan(lines, i)) None
      else {
        val ind = indentOf(lines(i))
        val sub = lines.drop(i + 1)
          .takeWhile(l => indentOf(l) > ind)
        val readsBase = sub.exists(l =>
          l.contains("documents") || l.contains("embeddings"))
        val limited = sub.exists(l => limiter.exists(_.findFirstIn(l).isDefined))
        if (readsBase && !limited)
          Some(sub.headOption.getOrElse("?").trim.take(100))
        else None
      }
    }
  }

  test("queries ranked through TopK / Knn.query plan no Window operator") {
    // verdict r7 #2 regression guard: q_bm25 and q_rrf_fusion used to rank
    // through an unpartitioned Window.orderBy — a single-partition sort of
    // every per-doc score — and q_maxsim(_pruned) / q_hash_embed_knn
    // through a per-query rank Window. They all rank through the TopK
    // bounded-heap aggregate now (TopK.topNByScore or Knn.query, map-side
    // partial), so the physical plan must contain ZERO Window operators
    // of any kind. Each query names the top-k operators it ranks through:
    // the TopK aggregate (`topk_neighbors`) and/or Knn's `KnnTopK` node.
    val dir = "/root/testdata/sf0.001"
    val agg = "topk_neighbors"
    val knn = "KnnTopK"
    Seq("q_bm25" -> Seq(agg), "q_rrf_fusion" -> Seq(agg, knn),
        "q_retrieval_overlap" -> Seq(agg, knn), "q_hybrid_fusion" -> Seq(agg),
        "q_hash_embed_knn" -> Seq(knn), "q_maxsim" -> Seq(agg),
        "q_maxsim_pruned" -> Seq(agg, knn)).foreach { case (name, ops) =>
      val plan = Queries.queryMap(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name plans a Window operator again")
      ops.foreach(op => assert(plan.contains(op),
        s"$name no longer ranks through $op"))
    }
  }

  test("the BASIC facade's top-k plans no pair join and no per-pair distance") {
    // the exact top-k scores through the blocked kernel: a cross join of
    // store and queries (BroadcastNestedLoopJoin) with the codegen'd
    // distance on every pair row is the plan it replaced
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vic = graft.api.Vicinity.fromVectorsAndItems(spark,
      (0 until 64).map(i => s"item$i"),
      Seq.fill(64)(Seq.fill(8)(rnd.nextGaussian())))
    val queries = (0 until 6).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian())))
      .toDF("query_id", "qvector")
    val res = vic.queryDf(queries, 5)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("inner_product_distance"), plan)
    assert(res.count() === 30)
  }

  test("the library's exact top-k bodies plan no pair join and no per-pair distance") {
    // Knn.query, MMR's pool, the self-join and the LSH exhaustive disk read
    // score through the blocked kernel: a cross join of store and queries
    // (BroadcastNestedLoopJoin) with a codegen'd distance on every pair row
    // is the plan it replaced
    import spark.implicits._
    import graft.core.Metric
    import graft.operators.Knn
    val rnd = new scala.util.Random(9)
    val store = (0 until 64)
      .map(i => (i.toLong, s"item$i", Seq.fill(8)(rnd.nextGaussian())))
      .toDF("id", "item", "vector")
    val queries = (0 until 6)
      .map(i => (100L + i, Seq.fill(8)(rnd.nextGaussian())))
      .toDF("query_id", "qvector")
    val lsh = graft.index.LshStrategy(Metric.Cosine, nTables = 4, nBits = 4)
    val path = graft.VerifyIO.scratchDir("graft_plan_lsh")
      .resolve("index").toString
    lsh.writeServingIndex(lsh.prepare(store), path)
    val selfQueries = store.where($"id" < 4)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val pairDistance = "[a-z0-9]+_distance\\(".r
    Seq(
      "Knn.query" -> Knn.query(store, queries, 5, Metric.Euclidean),
      "Knn.mmrRerank" -> Knn.mmrRerank(store, selfQueries, pool = 10, k = 3),
      "Knn.selfJoin" -> Knn.selfJoin(store, 3, Metric.Cosine),
      "LshStrategy.queryExhaustiveFromDisk" ->
        lsh.queryExhaustiveFromDisk(spark, path, queries, 5)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
      assert(pairDistance.findFirstIn(plan).isEmpty, s"$name:\n$plan")
      assert(df.count() > 0, name)
    }
  }

  test("the IVF disk read plans no store join and no per-pair distance") {
    // the read scores the pruned cells through Knn's per-row step and
    // carries `item` out of the layout: a broadcast probe equi-join with a
    // codegen'd distance per pair, and a store join for `item`, are the
    // plan it replaced; the partition-pruned scan stays in the plan
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val vic = graft.api.Vicinity.fromVectorsAndItems(spark,
      (0 until 200).map(i => s"item$i"),
      Seq.fill(200)(Seq.fill(8)(rnd.nextGaussian())), graft.core.Backend.Faiss,
      Some(graft.core.BackendArgs.FaissArgs(indexType = "ivf", nlist = 8)))
    val path = graft.VerifyIO.scratchDir("graft_plan_ivf")
      .resolve("index").toString
    vic.writeServingIndex(path)
    val queries = Seq((0L, Seq.fill(8)(rnd.nextGaussian())))
      .toDF("query_id", "qvector")
    val res = vic.queryFromDiskDf(path, queries, 5)
    assert(res.collect().length === 5)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert("[a-z0-9]+_distance\\(".r.findFirstIn(plan).isEmpty, plan)
    assert("PartitionFilters: \\[[^\\]]*_centroid".r.findFirstIn(plan).isDefined,
      plan)
  }
}
