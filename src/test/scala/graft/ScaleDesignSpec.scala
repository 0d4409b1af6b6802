package graft

import org.apache.spark.sql.functions._

/** Executable evidence for the 100 TB design claims: bucketed co-located
  * joins eliminate the shuffle, and salting splits skewed aggregation keys
  * without changing results.
  */
class ScaleDesignSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    val li = sf("lineitem", "/root/testdata/sf0.001")
    val ord = sf("orders", "/root/testdata/sf0.001")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_bucketed")
    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy("o_orderstatus").agg(sum("l_quantity"))
    val plan = joined.queryExecution.executedPlan.toString
    // co-located: the join itself requires no shuffle of either side
    // (the only exchange allowed is the final small aggregation)
    val joinSection = plan.split("HashAggregate").last
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
      s"join shuffled a bucketed side:\n$plan")
    assert(joined.collect().nonEmpty)
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
  }

  test("filters and projections push down to the parquet scan") {
    val li = sf("lineitem", "/root/testdata/sf0.001")
      .where($"l_quantity" > 45.0)
      .select("l_orderkey", "l_quantity")
    val scan = li.queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("FileScan")).mkString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)"),
      s"filter did not reach the scan:\n$scan")
    assert(scan.contains("ReadSchema") &&
      !scan.contains("l_comment"), // column pruning: untouched columns absent
      s"projection did not prune the scan:\n$scan")
  }

  test("kNN plan: store side scans without an exchange; queries broadcast") {
    val store = sf("embeddings", "/root/testdata/sf0.001")
      .select($"vec_id".as("id"), $"embedding".as("vector"))
    val queries = store.limit(5)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val plan = graft.operators.Knn.query(store, queries, 10,
      graft.core.Metric.Cosine).queryExecution.executedPlan.toString
    // the query batch rides a broadcast of primitive arrays into the
    // blocked kernel: no pair join and no per-pair distance expression
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"pair join in kNN plan:\n$plan")
    assert(!plan.contains("cosine_distance"), s"per-pair distance in kNN plan:\n$plan")
    // the only allowed shuffle is the k×partitions partial-aggregate merge —
    // the store itself must never hash-partition on a join key
    assert(!plan.contains("Exchange hashpartitioning(id"),
      s"store side shuffled:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in kNN plan:\n$plan")
  }

  test("IVF index layout: probe-cell isin filter becomes parquet partition pruning") {
    val strat = graft.index.IvfStrategy(graft.core.Metric.Cosine,
      nlist = 8, nprobe = 2)
    val store = sf("embeddings", "/root/testdata/sf0.001")
      .select($"vec_id".as("id"), lit("{}").as("item"),
        $"embedding".cast("array<double>").as("vector"))
    val dir = "/tmp/graft_ivf_prune_idx"
    strat.writeIndex(strat.prepare(store), dir)
    val loaded = spark.read.parquet(dir)
    val pruned = loaded.where($"_centroid".isin(0, 1))
    val scan = pruned.queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("FileScan")).mkString
    assert("PartitionFilters: \\[_centroid#\\d+ IN \\(0,1\\)\\]".r
        .findFirstIn(scan).isDefined,
      s"probe filter did not become a partition filter:\n$scan")
    // pruning is real: the filtered scan reads strictly fewer partition dirs
    val allParts = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("_centroid="))
    assert(allParts > 2, s"expected >2 cells, got $allParts")
    assert(pruned.select("_centroid").distinct().count() <= 2)
  }

  test("contamination plan: benchmark gram set broadcasts, no cartesian") {
    val plan = Queries.queryMap("q_contamination")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark grams not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("tfidf plan: vocabulary-sized df table broadcasts back onto tf") {
    val plan = Queries.queryMap("q_tfidf")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"df side not broadcast:\n$plan")
  }

  test("bloom-filter pre-filter keeps contamination results exact") {
    // At extreme scale even a broadcast hash join of the benchmark gram set
    // can be beaten by a bloom pre-filter: the filter is a few MB regardless
    // of set size, drops non-leaking grams before the shuffle, and its false
    // positives are removed by the exact join that follows — results
    // provably identical.
    val dir = "/root/testdata/sf0.001"
    val grams = sf("documents", dir)
      .withColumn("_w", graft.prep.TextFunctions.words($"text"))
      .select($"doc_id",
        explode(graft.prep.TextFunctions.shinglesOfWordsAll($"_w", 5)).as("g"))
    val bench = grams.where($"doc_id" < 20).select("g").distinct()
    val bf = bench.stat.bloomFilter("g", 100000L, 0.01)
    val bcBf = spark.sparkContext.broadcast(bf)
    val mightContain = udf((g: String) => bcBf.value.mightContainString(g))
    val viaBloom = grams.where($"doc_id" >= 20)
      .where(mightContain($"g"))        // cheap pre-filter, FP possible
      .join(bench, "g")                 // exact join removes FPs
      .groupBy("doc_id").agg(countDistinct("g").as("n_shared_grams"))
    val exact = Queries.queryMap("q_contamination")(spark, dir)
    assert(viaBloom.orderBy("doc_id").collect().toSeq ===
      exact.orderBy("doc_id").collect().toSeq)
  }

  test("salted two-phase aggregation matches direct aggregation on skewed keys") {
    // skew: 90% of rows share one key
    val skewed = spark.range(100000)
      .select(when($"id" % 10 === 0, $"id" % 7).otherwise(0L).as("k"),
        ($"id" % 100).cast("double").as("v"))
    val direct = skewed.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    // phase 1: aggregate on (k, salt); phase 2: merge partials per k
    val salted = skewed
      .withColumn("salt", pmod(crc32($"v".cast("string")), lit(16)))
      .groupBy("k", "salt").agg(sum("v").as("ps"), count(lit(1)).as("pn"))
      .groupBy("k").agg(sum("ps").as("s"), sum("pn").as("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted.keySet === direct.keySet)
    salted.foreach { case (k, (s, n)) =>
      assert(n === direct(k)._2)
      assert(math.abs(s - direct(k)._1) < 1e-6)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // the runtime half of the skew story (salting above is the static
    // half): a join keyed 90% to one value lands that key's rows in one
    // shuffle partition; with AQE skew handling the oversized partition
    // is split into multiple reader tasks WITHOUT changing results —
    // the knob a 100 TB job relies on when the hot key isn't known ahead
    // of time. Thresholds are lowered so the ~MB-scale test fixture
    // crosses them; production defaults (256 MB) scale the same way.
    // The shuffle partition count is pinned too: the session derives it
    // from the core count, and the thresholds assume four partitions.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(Option(conf.get(k))).toOption.flatten)
      .toMap
    try {
      conf.set("spark.sql.shuffle.partitions", "4")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val fact = spark.range(120000)
        .select(when($"id" % 10 === 0, lit(0L)).otherwise($"id" % 97).as("k"),
          concat(lit("v"), $"id".cast("string"),
            lit("x" * 64)).as("payload"))
      val dim = spark.range(97).select($"id".as("k"),
        concat(lit("d"), $"id".cast("string")).as("name"))
      val joined = fact.join(dim, "k")
        // aggregate READS payload so column pruning cannot strip the wide
        // column whose bytes make the hot partition skewed
        .agg(count(lit(1)).as("n"), sum(length($"payload")).as("bytes"))
      // execute THIS dataframe so its adaptive plan is final — a separate
      // .count() action would plan (and skew-split) its own query instead
      val n = joined.collect()(0).getLong(0)
      assert(n == 120000L, s"skew-split join changed the row count: $n")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") ||
        plan.toLowerCase.contains("skewed"),
        s"AQE did not mark the skewed join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("disk-resident IVF serving prunes unprobed cell partitions") {
    import graft.index.IvfStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val strat = IvfStrategy(graft.core.Metric.Cosine, nlist = 16, nprobe = 4)
    val prepared = strat.prepare(store).cache()
    val path = graft.VerifyIO.scratchDir("graft_ivfdisk")
      .resolve("index").toString
    strat.writeIndex(prepared, path)
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val fromDisk = strat.queryFromDisk(spark, path, queries, 10)
    // identical to the in-memory path at the same nprobe
    val mem = strat.query(prepared, queries, 10).collect().toSet
    assert(fromDisk.collect().toSet === mem)
    // and the scan only touched the probed cell DIRECTORIES: the probe
    // set arrives as a partition filter, so the partitioned scan's
    // selected partitions are the probed cells, not all nlist of them
    val indexScans = fileScans(fromDisk.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("_centroid"))
    assert(indexScans.nonEmpty, "no partitioned scan of the disk index found")
    val probed = strat.probeCells(queries).toSet
    assert(probed.size < 16, s"3 queries x 4 probes should not cover all 16 cells")
    val scanned = indexScans.map(_.selectedPartitions.partitionCount).sum
    assert(scanned <= probed.size,
      s"scan read $scanned cell partitions, probe set is ${probed.size}")
    assert(indexScans.exists(_.toString.contains("PartitionFilters")),
      "probe predicate did not reach the scan as a partition filter")
    prepared.unpersist()
  }

  test("filtered IVF disk serving: predicate pushed to the scan, cells pruned, pre-filter exact") {
    import graft.index.IvfStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"), $"label")
    val strat = IvfStrategy(graft.core.Metric.Cosine, nlist = 16, nprobe = 4)
    val prepared = strat.prepare(store).cache()
    val path = graft.VerifyIO.scratchDir("graft_ivffilt")
      .resolve("index").toString
    strat.writeIndex(prepared, path)
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    // use a simple comparison so the predicate is pushdown-eligible
    val pred = $"label" >= 1
    val fromDisk = strat.queryFilteredFromDisk(spark, path, queries, 10, pred)
    // pre-filter semantics: identical to filtering the in-memory prepared
    // frame BEFORE the kernel at the same nprobe
    val mem = strat.query(prepared.where(pred), queries, 10).collect().toSet
    assert(fromDisk.collect().toSet === mem)
    val indexScans = fileScans(fromDisk.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("_centroid"))
    assert(indexScans.nonEmpty, "no partitioned scan of the disk index found")
    // both reductions reach the reader: probed cells as a partition
    // filter, the label comparison in PushedFilters
    val probed = strat.probeCells(queries).toSet
    val scanned = indexScans.map(_.selectedPartitions.partitionCount).sum
    assert(scanned <= probed.size && probed.size < 16,
      s"scan read $scanned partitions, probe set ${probed.size}")
    assert(indexScans.exists(s =>
        s.metadata.get("PushedFilters").exists(_.contains("label"))),
      "label predicate did not reach PushedFilters")
    prepared.unpersist()
  }

  test("disk-resident LSH serving: probe keys prune postings partitions, " +
      "disk == memory decision for decision (verdict r12 #4)") {
    import graft.index.LshStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"), $"label")
    val strat = LshStrategy(graft.core.Metric.Cosine, nTables = 8, nBits = 5)
    val prepared = strat.prepare(store).cache()
    val path = graft.VerifyIO.scratchDir("graft_lshdisk")
      .resolve("index").toString
    strat.writeServingIndex(prepared, path)
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    // ANN path: the disk read probes exactly the buckets the in-memory
    // path probes, so results are identical including ranks
    val fromDisk = strat.queryFromDisk(spark, path, queries, 10)
    val mem = strat.query(prepared, queries, 10).collect().toSet
    assert(fromDisk.collect().toSet === mem,
      "LSH disk serving != in-memory LSH")
    val postScans = fileScans(fromDisk.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("_pk"))
    assert(postScans.nonEmpty, "no partitioned scan of the postings found")
    // 3 queries × 8 tables probe ≤ 24 of the 8×16 = 128 possible _pk
    // directories: the IN-list must arrive as a partition filter and the
    // scan must read only probed directories
    val scanned = postScans.map(_.selectedPartitions.partitionCount).sum
    assert(scanned <= 24, s"postings scan read $scanned partition dirs, " +
      "probe set is at most 24")
    assert(postScans.exists(_.toString.contains("PartitionFilters")),
      "probe keys did not reach the postings scan as a partition filter")
    // threshold path rides the same pruned candidates
    val thDsk = strat.queryThresholdFromDisk(spark, path, queries, 0.5, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val thMem = strat.queryThreshold(prepared, queries, 0.5, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(thDsk == thMem, "LSH disk threshold != in-memory threshold")
    // filtered path: pre-filter semantics, predicate pushed to the
    // vectors scan (metadata rides in the layout)
    val pred = $"label" >= 1
    val flDsk = strat.queryFilteredFromDisk(spark, path, queries, 10, pred)
    val flMem = strat.queryFiltered(prepared.where(pred), queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flDsk.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == flMem, "LSH disk filtered != in-memory filtered")
    assert(fileScans(flDsk.queryExecution.executedPlan)
        .exists(s => s.metadata.get("PushedFilters")
          .exists(_.contains("label"))),
      "label predicate did not reach PushedFilters on the vectors scan")
    // config mismatch fails fast instead of probing garbage buckets
    intercept[IllegalArgumentException] {
      LshStrategy(graft.core.Metric.Cosine, nTables = 4, nBits = 5)
        .queryFromDisk(spark, path, queries, 10)
    }
    prepared.unpersist()
  }

  test("LSH disk append (verdict r13 #3): appended generation is served " +
      "== rebuilt-from-scratch; replay overwrites its own generation; " +
      "duplicate-id append refuses") {
    import graft.index.LshStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"))
      .cache()
    val strat = LshStrategy(graft.core.Metric.Cosine, nTables = 8, nBits = 5)
    val fullPrepared = strat.prepare(store).cache()
    val base = fullPrepared.where($"id" < 400)
    val delta = store.where($"id" >= 400)
    val queries = store.where($"id" < 5)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val root = graft.VerifyIO.scratchDir("graft_lshapp")
    val path = root.resolve("grown").toString
    strat.writeServingIndex(base, path)
    strat.appendServingIndex(spark, path, delta)
    // hashing is per-row deterministic, so base + appended generation
    // must serve exactly what one fresh build of the full store serves —
    // in memory AND through a rebuilt-from-scratch layout
    val mem = strat.query(fullPrepared, queries, 10).collect().toSet
    val grown = strat.queryFromDisk(spark, path, queries, 10).collect().toSet
    assert(grown === mem, "append-grown layout != in-memory full store")
    val path2 = root.resolve("fresh").toString
    strat.writeServingIndex(fullPrepared, path2)
    assert(strat.queryFromDisk(spark, path2, queries, 10).collect().toSet
      === grown, "append-grown layout != rebuilt-from-scratch layout")
    // crash-window replay: rewind the sidecar to generations=1 (as if the
    // append crashed before its commit) — the orphan _gen=1 is invisible…
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(graft.core.FsIO.read(s"$path/_lsh_meta.json"))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    meta.put("generations", 1)
    graft.core.FsIO.write(s"$path/_lsh_meta.json",
      mapper.writeValueAsString(meta))
    val baseOnly = strat.queryFromDisk(spark, path, queries, 10).collect()
      .map(r => r.getLong(1)).toSet
    val memBase = strat.query(base, queries, 10).collect()
      .map(r => r.getLong(1)).toSet
    assert(baseOnly === memBase,
      "uncommitted generation leaked into a served result")
    // …and replaying the SAME append overwrites its own generation and
    // recommits: at-least-once replay stays exactly-once
    strat.appendServingIndex(spark, path, delta)
    assert(strat.queryFromDisk(spark, path, queries, 10).collect().toSet
      === mem, "replayed append did not converge to the full answer")
    // a committed duplicate append refuses (ids already in the layout)
    intercept[IllegalArgumentException] {
      strat.appendServingIndex(spark, path, delta)
    }
    // dim mismatch refuses before writing anything
    intercept[IllegalArgumentException] {
      strat.appendServingIndex(spark, path,
        store.limit(1).select($"id" + 10000 as "id",
          org.apache.spark.sql.functions.expr("slice(vector, 1, 8)")
            .as("vector")))
    }
    fullPrepared.unpersist(); store.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("LSH disk delete (r15): postings + vectors drop the batch per " +
      "generation; untouched vector buckets byte-identical; absent ids " +
      "no-op; both serving paths see survivors only") {
    import graft.index.{LshStrategy, VectorBuckets}
    val store = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"))
      .cache()
    val strat = LshStrategy(graft.core.Metric.Cosine, nTables = 8, nBits = 5)
    val prepared = strat.prepare(store).cache()
    val queries = store.where($"id" < 5)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val root = graft.VerifyIO.scratchDir("graft_lshdel")
    val path = root.resolve("index").toString
    // an APPENDED layout, so the delete must resolve generations too
    strat.writeServingIndex(prepared.where($"id" < 400), path)
    strat.appendServingIndex(spark, path, store.where($"id" >= 400))
    def dirFiles(sub: String): Map[String, Set[String]] = {
      val d = new java.io.File(s"$path/$sub")
      d.listFiles().filter(_.isDirectory).flatMap { g =>
        g.listFiles().filter(_.isDirectory).toSeq.map { p =>
          s"${g.getName}/${p.getName}" -> p.listFiles().map(_.getName).toSet
        }
      }.toMap
    }
    val vecsBefore = dirFiles("vectors")
    // victims from BOTH generations, plus an absent id
    val removed = strat.deleteFromDisk(spark, path,
      Seq(7L, 450L, 99999L).toDF("id"))
    assert(removed === 2L, s"expected 2 removed, got $removed")
    val touchedNb = Seq(7L, 450L).toDF("id")
      .withColumn("_nb", VectorBuckets.nb(64))
      .select("_nb").distinct().collect().map(r => s"_nb=${r.getLong(0)}")
      .toSet
    dirFiles("vectors").foreach { case (dir, files) =>
      if (!touchedNb.exists(t => dir.endsWith(s"/$t")))
        assert(vecsBefore(dir) === files, s"untouched $dir rewritten")
    }
    // exhaustive-exact over the layout == in-memory exact on survivors
    val surv = prepared.where($"id" =!= 7L && $"id" =!= 450L)
    val dskEx = strat.queryExhaustiveFromDisk(spark, path, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val memEx = strat.queryExhaustive(surv, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dskEx === memEx, "disk exhaustive != in-memory on survivors")
    // the ANN path's candidates lose the ids too (postings side dropped)
    val ann = strat.queryFromDisk(spark, path, queries, 10).collect()
      .map(_.getLong(1)).toSet
    assert(!ann.contains(7L) && !ann.contains(450L),
      "deleted id still served by the postings path")
    // a replayed delete of the same batch is a no-op
    assert(strat.deleteFromDisk(spark, path,
      Seq(7L, 450L).toDF("id")) === 0L)
    prepared.unpersist(); store.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("LSH compactServing (r15): fold to one generation serves " +
      "identically; a post-compact append continues as _gen=1") {
    import graft.index.LshStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"))
      .cache()
    val strat = LshStrategy(graft.core.Metric.Cosine, nTables = 8, nBits = 5)
    val prepared = strat.prepare(store).cache()
    val queries = store.where($"id" < 5)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val root = graft.VerifyIO.scratchDir("graft_lshcmp")
    val path = root.resolve("index").toString
    strat.writeServingIndex(prepared.where($"id" < 300), path)
    strat.appendServingIndex(spark, path,
      store.where($"id" >= 300 && $"id" < 400))
    val before = strat.queryFromDisk(spark, path, queries, 10).collect().toSet
    strat.compactServing(spark, path)
    // sidecar folded to one generation, and exactly one _gen dir remains
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.core.FsIO.read(s"$path/_lsh_meta.json"))
    assert(meta.get("generations").asInt() === 1)
    Seq("postings", "vectors").foreach { sub =>
      val gens = new java.io.File(s"$path/$sub").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("_gen="))
      assert(gens.toSeq === Seq("_gen=0"), s"$sub gens: ${gens.toSeq}")
    }
    assert(strat.queryFromDisk(spark, path, queries, 10).collect().toSet
      === before, "served results changed across the fold")
    // append continues on the compacted layout
    strat.appendServingIndex(spark, path, store.where($"id" >= 400))
    val mem = strat.query(prepared, queries, 10).collect().toSet
    assert(strat.queryFromDisk(spark, path, queries, 10).collect().toSet
      === mem, "post-compact append not served")
    // idempotent: compacting a compact layout is a no-op
    strat.compactServing(spark, path)
    prepared.unpersist(); store.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("NN-descent disk delete + compactServing (r15): tombstoned rows " +
      "leave every served result; compaction drops them physically") {
    import graft.index.NnDescentStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"))
      .where($"id" < 300).cache()
    val strat = NnDescentStrategy(graft.core.Metric.Cosine, nNeighbors = 8)
    val prepared = strat.prepare(store).cache()
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val root = graft.VerifyIO.scratchDir("graft_nndel")
    val path = root.resolve("index").toString
    strat.writeServingIndex(prepared, path)
    // tombstone two live ids + an absent one
    val n1 = strat.deleteFromDisk(spark, path, Seq(0L, 1L, 9999L).toDF("id"))
    assert(n1 === 2L, s"expected 2 tombstoned, got $n1")
    // idempotent: re-deleting tombstoned ids adds nothing
    assert(strat.deleteFromDisk(spark, path, Seq(0L, 1L).toDF("id")) === 0L)
    val walked = strat.queryFromDisk(spark, path, queries, 5).collect()
      .map(_.getLong(1)).toSet
    assert(!walked.contains(0L) && !walked.contains(1L),
      "tombstoned id still served by the walk")
    val exDsk = strat.queryExhaustiveFromDisk(spark, path, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // queryFiltered, NOT queryExhaustive: the exhaustive path serves a
    // driver-local replica of the FULL store and would ignore the
    // survivor predicate (the advice-r11 class)
    val exMem = strat.queryFiltered(
        prepared.where($"id" > 1), queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exDsk === exMem, "disk exhaustive != in-memory on survivors")
    // compaction: rows physically gone, edges pointing at them stripped,
    // tombstones spent, served results unchanged
    val before = strat.queryFromDisk(spark, path, queries, 5).collect().toSet
    strat.compactServing(spark, path)
    assert(spark.read.parquet(s"$path/vectors")
      .where($"id" <= 1).count() === 0L, "compaction kept deleted vectors")
    assert(spark.read.parquet(s"$path/graph")
      .where($"src" <= 1 || $"dst" <= 1).count() === 0L,
      "compaction kept deleted adjacency")
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "spent tombstones not dropped")
    assert(graft.index.GraphLayout.tombstoneGens(path) === 0)
    assert(strat.queryFromDisk(spark, path, queries, 5).collect().toSet
      === before, "served results changed across compaction")
    prepared.unpersist(); store.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("NN-descent compaction re-seeds entries when every entry node was " +
      "tombstoned (advice r15): live vectors keep serving") {
    import graft.index.{GraphServing, HnswStrategy, IndexStrategy, NnDescentStrategy}
    val store = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"))
      .where($"id" < 120).cache()
    // both graph families share the compaction: tiny entry sets so a small
    // delete batch can cover ALL of them — NN-descent's 3 seeds, and
    // HNSW's top layer (~n/m nodes at m=16)
    Seq[(IndexStrategy with GraphServing, String, Option[Int])](
      (NnDescentStrategy(graft.core.Metric.Cosine, nNeighbors = 8,
        nSeeds = 3), "_nn_serving_meta.json", Some(3)),
      (HnswStrategy(graft.core.Metric.Cosine), "_graph_meta.json", None)
    ).foreach { case (strat, metaFile, nEntries) =>
      val prepared = strat.prepare(store).cache()
      val root = graft.VerifyIO.scratchDir("graft_nnreseed")
      val path = root.resolve("index").toString
      strat.writeServingIndex(prepared, path)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def entries(): Seq[Long] = {
        val arr = mapper.readTree(graft.core.FsIO.read(s"$path/$metaFile"))
          .get("entries")
        (0 until arr.size()).map(arr.get(_).asLong())
      }
      val entries0 = entries()
      nEntries.foreach(n => assert(entries0.length === n))
      assert(entries0.nonEmpty && entries0.length <= 10, s"$metaFile")
      // tombstone EVERY entry node, then compact: before the advice-r15
      // fix the sidecar's entry list folded to empty and the walk seeded
      // nothing forever despite the live vectors
      assert(strat.deleteFromDisk(spark, path, entries0.toDF("id")) ===
        entries0.length.toLong)
      strat.compactServing(spark, path)
      val entries1 = entries()
      assert(entries1.nonEmpty, s"compaction left an empty entry list: $metaFile")
      assert(entries1.intersect(entries0).isEmpty,
        s"re-seeded entries include tombstoned ids: $metaFile")
      val queries = store.where($"id" >= 100 && $"id" < 103)
        .select($"id".as("query_id"), $"vector".as("qvector"))
      val served = strat.queryFromDisk(spark, path, queries, 5).collect()
      assert(served.length === 15, s"compacted layout stopped serving: $metaFile")
      assert(!served.map(_.getLong(1)).toSet.exists(entries0.contains),
        s"tombstoned entry id still served: $metaFile")
      prepared.unpersist()
      VerifyIO.deleteRec(root.toFile)
    }
    store.unpersist()
  }

  test("IvfSq8/IvfPq disk delete (r15) delegates the IVF cell rewrite: " +
      "deleted rows leave the served result; survivors intact") {
    import graft.index.{IvfPqStrategy, IvfSq8Strategy}
    val store = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"))
      .cache()
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    Seq(
      IvfSq8Strategy(graft.core.Metric.Cosine, nlist = 8, nprobe = 8),
      IvfPqStrategy(graft.core.Metric.Cosine, nlist = 8, nprobe = 8,
        m = 4, nbits = 8, rerank = true, rerankFactor = 8)
    ).foreach { strat =>
      val prepared = strat.prepare(store).cache()
      val root = graft.VerifyIO.scratchDir("graft_qdel")
      val path = root.resolve("index").toString
      strat.writeIndex(prepared, path)
      val nBefore = spark.read.parquet(path).count()
      val removed = strat.deleteFromDisk(spark, path,
        store.where($"id" === 0L || $"id" === 42L))
      assert(removed === 2L, s"${strat.name}: expected 2, got $removed")
      assert(spark.read.parquet(path).count() === nBefore - 2,
        s"${strat.name}: row accounting")
      val served = strat.queryFromDisk(spark, path, queries, 5).collect()
        .map(_.getLong(1)).toSet
      assert(!served.contains(0L) && !served.contains(42L),
        s"${strat.name}: deleted id still served")
      prepared.unpersist()
      VerifyIO.deleteRec(root.toFile)
    }
    store.unpersist()
  }

  test("BQ disk append (r15): appended generation served == fresh full " +
      "build across top-k AND Hamming; replay overwrites its own " +
      "generation; duplicate/dim-mismatch appends refuse; compact folds") {
    import graft.index.BqStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"))
      .cache()
    val strat = BqStrategy(graft.core.Metric.Cosine)
    val fullPrepared = strat.prepare(store).cache()
    val queries = store.where($"id" < 5)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val root = graft.VerifyIO.scratchDir("graft_bqapp")
    val path = root.resolve("grown").toString
    strat.writeServingIndex(fullPrepared.where($"id" < 400), path)
    val grownPrep = strat.appendToServing(spark, path,
      fullPrepared.where($"id" < 400), store.where($"id" >= 400))
    assert(grownPrep.count() === store.count(),
      "appendToServing did not return the grown prepared frame")
    // sign packing is train-free and per-row, so base + appended
    // generation must serve exactly what a fresh full build serves
    val memK = strat.query(fullPrepared, queries, 10).collect().toSet
    assert(strat.queryFromDisk(spark, path, queries, 10).collect().toSet
      === memK, "append-grown top-k != in-memory full store")
    val memH = strat.hammingRadius(fullPrepared, queries, 10, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dskH = strat.queryHammingFromDisk(spark, path, queries, 10, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dskH === memH, "append-grown MIH radius != brute scan")
    // crash-window replay: rewind the sidecar (as if the append crashed
    // before its commit) — the orphan generation is invisible…
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(
        graft.core.FsIO.read(s"$path/_bq_serving_meta.json"))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    meta.put("generations", 1)
    graft.core.FsIO.write(s"$path/_bq_serving_meta.json",
      mapper.writeValueAsString(meta))
    val baseOnly = strat.queryFromDisk(spark, path, queries, 10).collect()
      .map(_.getLong(1)).toSet
    val memBase = strat.query(fullPrepared.where($"id" < 400), queries, 10)
      .collect().map(_.getLong(1)).toSet
    assert(baseOnly === memBase,
      "uncommitted generation leaked into a served result")
    // …and replaying the SAME append converges (exactly-once)
    strat.appendToServing(spark, path,
      fullPrepared.where($"id" < 400), store.where($"id" >= 400))
    assert(strat.queryFromDisk(spark, path, queries, 10).collect().toSet
      === memK, "replayed append did not converge")
    // duplicate ids refuse; dim mismatch refuses
    intercept[IllegalArgumentException] {
      strat.appendToServing(spark, path, fullPrepared,
        store.where($"id" >= 400))
    }
    intercept[IllegalArgumentException] {
      strat.appendToServing(spark, path, fullPrepared,
        store.limit(1).select($"id" + 10000 as "id",
          org.apache.spark.sql.functions.expr("slice(vector, 1, 4)")
            .as("vector")))
    }
    // compaction folds both sub-layouts to _gen=0 and serving is
    // unchanged — top-k and Hamming
    strat.compactServing(spark, path)
    Seq("vectors", "mih").foreach { sub =>
      val gens = new java.io.File(s"$path/$sub").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("_gen="))
      assert(gens.toSeq === Seq("_gen=0"), s"$sub gens: ${gens.toSeq}")
    }
    assert(strat.queryFromDisk(spark, path, queries, 10).collect().toSet
      === memK, "post-compact top-k changed")
    assert(strat.queryHammingFromDisk(spark, path, queries, 10, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === memH,
      "post-compact MIH radius changed")
    // delete still works on the compacted (single-gen) layout
    assert(strat.deleteFromDisk(spark, path, Seq(450L).toDF("id")) === 1L)
    fullPrepared.unpersist(); store.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("quantized + graph disk threshold/filtered completions (r15) " +
      "serve decision-for-decision what the in-memory paths serve") {
    import graft.index.{HnswStrategy, IvfPqStrategy, IvfSq8Strategy}
    val store = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"))
      .cache()
    val queries = store.where($"id" < 4)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val pred = $"id" % 2 === 0
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val root = graft.VerifyIO.scratchDir("graft_qtf")
    // IvfSq8: filtered disk == in-memory pre-filter
    val sq = IvfSq8Strategy(graft.core.Metric.Cosine, nlist = 8, nprobe = 4)
    val sqPrep = sq.prepare(store).cache()
    val sp = root.resolve("sq").toString
    sq.writeIndex(sqPrep, sp)
    assert(pairs(sq.queryFilteredFromDisk(spark, sp, queries, 10, pred))
      === pairs(sq.queryFiltered(sqPrep.where(pred), queries, 10)),
      "ivf_scalar disk filtered != in-memory")
    sqPrep.unpersist()
    // IvfPq: threshold AND filtered disk == in-memory
    val pq = IvfPqStrategy(graft.core.Metric.Cosine, nlist = 8, nprobe = 4,
      m = 4, nbits = 8, rerank = true, rerankFactor = 4)
    val pqPrep = pq.prepare(store).cache()
    val pp = root.resolve("pq").toString
    pq.writeIndex(pqPrep, pp)
    assert(pairs(pq.queryThresholdFromDisk(spark, pp, queries, 0.5, 20))
      === pairs(pq.queryThreshold(pqPrep, queries, 0.5, 20)),
      "ivfpq disk threshold != in-memory")
    assert(pairs(pq.queryFilteredFromDisk(spark, pp, queries, 10, pred))
      === pairs(pq.queryFiltered(pqPrep.where(pred), queries, 10)),
      "ivfpq disk filtered != in-memory")
    pqPrep.unpersist()
    // HNSW: the disk threshold is the mask over the disk walk, which is
    // already pinned == the memory walk — assert the composed equality
    val h = HnswStrategy(graft.core.Metric.Cosine)
    val hPrep = h.prepare(store.where($"id" < 300)).cache()
    val hp = root.resolve("hnsw").toString
    h.writeGraphIndex(hPrep, hp)
    assert(pairs(h.queryThresholdFromDisk(spark, hp, queries, 0.6, 8))
      === pairs(h.queryThreshold(hPrep, queries, 0.6, 8)),
      "hnsw disk threshold != in-memory")
    hPrep.unpersist()
    store.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("disk-resident IVF delete rewrites only the affected cell partitions") {
    import graft.index.IvfStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val strat = IvfStrategy(graft.core.Metric.Cosine, nlist = 16, nprobe = 16)
    val prepared = strat.prepare(store).cache()
    val root = graft.VerifyIO.scratchDir("graft_ivfdel")
    val path = root.resolve("index").toString
    strat.writeIndex(prepared, path)

    def cellFiles(): Map[String, Set[String]] = {
      val d = new java.io.File(path)
      d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("_centroid="))
        .map(f => f.getName -> f.listFiles().map(_.getName)
          .filterNot(_.startsWith("_")).toSet).toMap
    }
    val filesBefore = cellFiles()

    // delete a 10-row batch by (id, vector) — cells are COMPUTED from the
    // vectors, and only those cell dirs may change
    val delRows = store.where($"id" >= 10 && $"id" < 20)
    val delCells = prepared.where($"id" >= 10 && $"id" < 20)
      .select("_centroid").distinct().collect().map(_.getInt(0))
      .map(c => s"_centroid=$c").toSet
    val removed = strat.deleteFromDisk(spark, path, delRows)
    assert(removed == 10L, s"expected 10 rows removed, got $removed")

    val filesAfter = cellFiles()
    // untouched cells keep their exact file sets (no full-index rewrite)
    filesBefore.keys.filterNot(delCells).foreach { cell =>
      assert(filesAfter(cell) == filesBefore(cell),
        s"unaffected $cell was rewritten")
    }
    // nprobe = nlist: serving the layout is now provably exact over the
    // surviving store
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val fromDisk = strat.queryFromDisk(spark, path, queries, 10).collect().toSet
    val survivors = strat.prepare(
      store.where($"id" < 10 || $"id" >= 20)).cache()
    val expected = strat.query(survivors, queries, 10).collect().toSet
    assert(fromDisk === expected)

    // emptied-cell edge: delete EVERY remaining row of one cell — dynamic
    // overwrite would silently skip an empty partition; the swap must
    // remove the directory outright
    val someCell = survivors.select($"_centroid").head.getInt(0)
    val cellRows = store.join(
      survivors.where($"_centroid" === someCell).select("id"), Seq("id"))
    val emptied = strat.deleteFromDisk(spark, path, cellRows)
    assert(emptied > 0)
    assert(!cellFiles().keySet.contains(s"_centroid=$someCell"),
      s"emptied cell _centroid=$someCell still has a directory")
    prepared.unpersist(); survivors.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("PQ disk serving equals the in-memory path at pruned nprobe") {
    import graft.index.IvfPqStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val strat = IvfPqStrategy(graft.core.Metric.Cosine, nlist = 16,
      nprobe = 4, m = 8)
    val prepared = strat.prepare(store).cache()
    val root = graft.VerifyIO.scratchDir("graft_ivfpqdisk")
    val path = root.resolve("index").toString
    strat.writeIndex(prepared, path)
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val fromDisk = strat.queryFromDisk(spark, path, queries, 10)
      .collect().toSet
    val mem = strat.query(prepared, queries, 10).collect().toSet
    assert(fromDisk === mem)
    prepared.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("nprobe tuning curve: recall monotone, exact endpoint, scan fraction reaches 1") {
    import graft.index.IvfStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val strat = IvfStrategy(graft.core.Metric.Cosine, nlist = 16, nprobe = 16)
    val prepared = strat.prepare(store).cache()
    val queries = store.where($"id" < 10)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val curve = strat.nprobeCurve(prepared, queries, 10, Seq(1, 2, 4, 8, 16))
      .orderBy("nprobe").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(curve.map(_._1).sameElements(Seq(1L, 2L, 4L, 8L, 16L)))
    // recall and scanned fraction are nondecreasing in nprobe
    assert(curve.sliding(2).forall { case Array(a, b) =>
      b._2 >= a._2 && b._3 >= a._3 })
    // the exact endpoint: probing every cell IS brute force
    assert(curve.last._2 == 1.0, s"recall at nprobe=nlist: ${curve.last._2}")
    assert(curve.last._3 == 1.0, s"scan_frac at nprobe=nlist: ${curve.last._3}")
    // pruning is real: the smallest probe reads a small store fraction
    assert(curve.head._3 < 0.5,
      s"nprobe=1 scanned ${curve.head._3} of the store")
    // demanding a sweep without the exact point is refused, not mis-graded
    intercept[IllegalArgumentException] {
      strat.nprobeCurve(prepared, queries, 10, Seq(1, 2))
    }
    prepared.unpersist()
  }

  test("quantized disk serving scans probed cells only, and never the raw vectors") {
    import graft.index.IvfSq8Strategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val strat = IvfSq8Strategy(graft.core.Metric.Euclidean, nlist = 16,
      nprobe = 4, rerank = false)
    val prepared = strat.prepare(store).cache()
    val root = graft.VerifyIO.scratchDir("graft_ivfsq8disk")
    val path = root.resolve("index").toString
    strat.writeIndex(prepared, path)
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    // identical to the in-memory quantized path at the same nprobe
    val fromDisk = strat.queryFromDisk(spark, path, queries, 10)
    val mem = strat.query(prepared, queries, 10).collect().toSet
    assert(fromDisk.collect().toSet === mem)
    val indexScans = fileScans(fromDisk.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("_centroid"))
    assert(indexScans.nonEmpty, "no partitioned scan of the disk index found")
    // partition-pruned: rows read ~ nprobe/nlist of the cells
    val scanned = indexScans.map(_.selectedPartitions.partitionCount).sum
    assert(scanned < 16, s"quantized disk scan read all $scanned cells")
    // column-pruned: the quantized kernel projects (id, _codes); the raw
    // 8-byte-per-dim vector column must never be read from storage —
    // THIS is the 4x I/O claim of SQ8 serving, visible in ReadSchema
    indexScans.foreach { sc =>
      val readCols = sc.requiredSchema.fieldNames.toSet
      assert(readCols.contains("_codes"), s"scan missing codes: $readCols")
      assert(!readCols.contains("vector"),
        s"quantized disk scan reads raw vectors: $readCols")
    }
    prepared.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("flat-codes layout is self-describing (r16): an UNTRAINED instance " +
      "serves it — readers rebuild their kernels from the sidecar alone") {
    import graft.index.{OpqStrategy, PqStrategy, Sq8Strategy}
    import graft.core.Metric
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
      .where($"id" < 150).cache()
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val root = graft.VerifyIO.scratchDir("graft_codes_fresh")
    def pin(tag: String, trained: graft.index.IndexStrategy
        with graft.index.DiskServing, fresh: graft.index.IndexStrategy
        with graft.index.DiskServing): Unit = {
      val prepared = trained.prepare(store)
      val p = root.resolve(tag).toString
      trained.writeServingIndex(prepared, p)
      val want = trained.queryFromDisk(spark, p, queries, 5).collect().toSet
      // the fresh instance has never seen a store: codebooks / ranges /
      // rotation all come from the layout's one-file sidecar
      val got = fresh.queryFromDisk(spark, p, queries, 5).collect().toSet
      assert(got === want, s"$tag: untrained reader diverged")
    }
    pin("pq", PqStrategy(Metric.Cosine, m = 4, rerank = true),
      PqStrategy(Metric.Cosine, m = 4, rerank = true))
    pin("opq", OpqStrategy(Metric.Cosine, m = 4, rerank = true),
      OpqStrategy(Metric.Cosine, m = 4, rerank = true))
    pin("sq8", Sq8Strategy(Metric.Euclidean), Sq8Strategy(Metric.Euclidean))
    store.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("generation cell layout (r16): probe pruning still resolves at the " +
      "directory level with _gen nested above _centroid; appends only " +
      "widen the probed cells") {
    import graft.index.IvfStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val strat = IvfStrategy(graft.core.Metric.Cosine, nlist = 16, nprobe = 4)
    val base = store.where($"id" < 400)
    val prepared = strat.prepare(base).cache()
    val root = graft.VerifyIO.scratchDir("graft_gencell_plan")
    val path = root.resolve("index").toString
    strat.writeServingIndex(prepared, path)
    // append a second generation so the layout genuinely nests
    strat.appendToServing(spark, path, prepared, store.where($"id" >= 400))
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val served = strat.queryFromDisk(spark, path, queries, 5)
    served.collect()
    val scans = fileScans(served.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("_centroid"))
    assert(scans.nonEmpty, "no cell-partitioned scan found")
    // leaf partitions are (_gen, _centroid) pairs: 2 generations of at
    // most 16 cells each = 32 leaves; the 3-query batch at nprobe=4
    // probes <= 12 distinct cells, so a pruned scan touches <= 24
    // leaves — an unpruned one would touch all ~32
    val leaves = scans.map(_.selectedPartitions.partitionCount).sum
    assert(leaves <= 24, s"probe pruning lost on the generation layout: " +
      s"$leaves leaf partitions scanned")
    prepared.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("generation appends clear a crashed different-batch orphan (r16 " +
      "second review pass): an uncommitted _gen=N from a died append is " +
      "never resurrected by the next append's sidecar commit") {
    import graft.index.IvfStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val strat = IvfStrategy(graft.core.Metric.Cosine, nlist = 16, nprobe = 16)
    val base = store.where($"id" < 400)
    val prepared = strat.prepare(base).cache()
    val root = graft.VerifyIO.scratchDir("graft_orphan_gen")
    val path = root.resolve("index").toString
    strat.writeServingIndex(prepared, path)
    // the batch that WILL commit next, and the cells it assigns to
    val incRows = store.where($"id" >= 400 && $"id" < 403)
    val incCells = strat.prepare(incRows).select("_centroid")
      .distinct().collect().map(_.getInt(0)).toSet
    // a crashed append's orphan: one poisoned row at _gen=1 in a cell the
    // next batch does NOT touch — dynamic partition overwrite alone would
    // keep this partition, and the next commit would make it visible
    val victim = prepared
      .where(!$"_centroid".isin(incCells.toSeq.map(Integer.valueOf): _*))
      .limit(1).withColumn("id", lit(999999L))
    victim.withColumn("_gen", lit(1))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("_gen", "_centroid").parquet(path)
    val queries = store.where($"id" < 2)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    // the orphan is invisible while uncommitted
    assert(!strat.queryFromDisk(spark, path, queries, 500).collect()
      .map(_.getAs[Long]("id")).contains(999999L),
      "uncommitted orphan generation served")
    // the real append commits generation 1 — the orphan must have been
    // cleared by the pre-write hygiene, not resurrected by the commit
    strat.appendToServing(spark, path, prepared, incRows)
    val served = strat.queryFromDisk(spark, path, queries, 500).collect()
      .map(_.getAs[Long]("id"))
    assert(!served.contains(999999L),
      "crashed different-batch orphan resurrected by the next append")
    assert(Seq(400L, 401L, 402L).forall(served.contains),
      "the real append's rows must serve")
    prepared.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("shared generation writers clear the target generation before a " +
      "gen>0 write — VectorBuckets and GraphLayout orphan hygiene") {
    import graft.index.{GraphLayout, VectorBuckets}
    // VectorBuckets (LSH/BQ/codes sub-layouts): pre-keyed _nb
    val rootV = graft.VerifyIO.scratchDir("graft_orphan_vb")
    val subV = rootV.resolve("vectors").toString
    VectorBuckets.writeGeneration(
      Seq((1L, "base")).toDF("id", "payload").withColumn("_nb", lit(0L)),
      "_nb", "id", subV, 0)
    VectorBuckets.writeGeneration( // the orphan: bucket 0 at gen 1
      Seq((999L, "poison")).toDF("id", "payload").withColumn("_nb", lit(0L)),
      "_nb", "id", subV, 1)
    VectorBuckets.writeGeneration( // the real batch: bucket 1 at gen 1
      Seq((2L, "real")).toDF("id", "payload").withColumn("_nb", lit(1L)),
      "_nb", "id", subV, 1)
    val gen1V = spark.read.parquet(subV).where($"_gen" === 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gen1V == Set(2L),
      s"VectorBuckets gen-1 should hold only the real batch, got $gen1V")
    VerifyIO.deleteRec(rootV.toFile)
    // GraphLayout (graph vectors/adjacency/tombstones): _nb = id % buckets
    val rootG = graft.VerifyIO.scratchDir("graft_orphan_gl")
    val subG = rootG.resolve("vectors").toString
    GraphLayout.writeGeneration(Seq((4L, "base")).toDF("id", "payload"),
      "id", subG, buckets = 4, gen = 0)
    GraphLayout.writeGeneration( // orphan in bucket 0
      Seq((8L, "poison")).toDF("id", "payload"), "id", subG, 4, 1)
    GraphLayout.writeGeneration( // real batch in bucket 1
      Seq((5L, "real")).toDF("id", "payload"), "id", subG, 4, 1)
    val gen1G = spark.read.parquet(subG).where($"_gen" === 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gen1G == Set(5L),
      s"GraphLayout gen-1 should hold only the real batch, got $gen1G")
    VerifyIO.deleteRec(rootG.toFile)
  }

  test("flat-codes disk serving (r16): the coarse scan reads codes, never " +
      "the raw vectors; the layout scans as a (_gen, _nb)-partitioned table") {
    import graft.index.{CodesLayout, Sq8Strategy}
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
      .where($"id" < 200)
    // rerank = false: the whole served query is the quantized coarse
    // pass, so the executed plan's scan IS the I/O claim under test
    val strat = Sq8Strategy(graft.core.Metric.Euclidean, rerank = false)
    val prepared = strat.prepare(store).cache()
    val root = graft.VerifyIO.scratchDir("graft_codes_plan")
    val path = root.resolve("index").toString
    strat.writeServingIndex(prepared, path)
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val served = strat.queryFromDisk(spark, path, queries, 5)
    assert(served.collect().toSet
      === strat.query(prepared, queries, 5).collect().toSet)
    val scans = fileScans(served.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("_nb"))
    assert(scans.nonEmpty, "no bucketed scan of the codes layout found")
    scans.foreach { sc =>
      // the generation gate is a PARTITION filter, not a data read
      assert(sc.relation.partitionSchema.fieldNames.toSet
        === Set("_gen", "_nb"), "layout partition schema")
      // column-pruned: 1 byte/dim codes, never the 8-byte/dim vectors —
      // the 8x I/O claim of SQ8 serving, visible in ReadSchema
      val readCols = sc.requiredSchema.fieldNames.toSet
      assert(readCols.contains("_codes"), s"scan missing codes: $readCols")
      assert(!readCols.contains("vector"),
        s"coarse disk scan reads raw vectors: $readCols")
    }
    // the PQ family's ADC projects (id, _pq) through the same committed
    // read before its partition-local scan — assert the projection's
    // scan shape on the committed frame the reader builds
    import graft.index.PqStrategy
    val pq = PqStrategy(graft.core.Metric.Cosine, m = 4)
    val pqPrep = pq.prepare(store).cache()
    val pqPath = root.resolve("pq").toString
    pq.writeServingIndex(pqPrep, pqPath)
    val proj = CodesLayout.committed(spark, pqPath, 1).select("id", "_pq")
    proj.collect()
    val pqScans = fileScans(proj.queryExecution.executedPlan)
    assert(pqScans.nonEmpty)
    pqScans.foreach { sc =>
      val readCols = sc.requiredSchema.fieldNames.toSet
      assert(readCols === Set("id", "_pq"),
        s"PQ coarse projection reads extra columns: $readCols")
    }
    prepared.unpersist(); pqPrep.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("MIH disk serving: probe buckets prune partitions, values push into the scan") {
    import graft.core.Metric
    import graft.index.BqStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val strat = BqStrategy(Metric.Cosine, rerank = false)
    val prepared = strat.prepare(store).cache()
    val root = graft.VerifyIO.scratchDir("graft_mihdisk")
    val path = root.resolve("index").toString
    BqStrategy.writeMihIndex(prepared, path, chunkBits = 8)
    // a single query keeps the probe-bucket set well under the layout's
    // partition count, so directory-level pruning is observable
    val queries = store.where($"id" === 7)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val fromDisk = BqStrategy.mihRadiusFromDisk(spark, path, queries,
      bits = 23, maxK = 50)
    val mem = strat.mihRadius(prepared, queries, 23, 50, chunkBits = 8)
      .collect().toSet
    assert(fromDisk.collect().toSet === mem.map(r => r))
    val idxScans = fileScans(fromDisk.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains("graft_mihdisk")))
    assert(idxScans.nonEmpty, "no scan of the MIH layout found")
    val total = spark.read.parquet(path)
      .select("_pk").distinct().count()
    idxScans.foreach { sc =>
      val scanned = sc.selectedPartitions.partitionCount
      assert(scanned < total,
        s"MIH disk scan read all $scanned/$total (chunk, bucket) partitions")
      // the probe-value IN filter reaches the parquet reader: row-group
      // skipping inside surviving partitions comes from THIS plus the
      // value-sorted file layout
      assert(sc.metadata.get("PushedFilters").exists(_.contains("In(chunk_val")),
        s"chunk_val IN filter not pushed: ${sc.metadata.get("PushedFilters")}")
    }
    prepared.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("matryoshka disk serving: coarse scan never reads the full vectors") {
    import graft.operators.Knn
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val root = graft.VerifyIO.scratchDir("graft_mrldisk")
    val path = root.resolve("index").toString
    Knn.writeMatryoshkaIndex(store, path, coarseDims = 16)
    val fromDisk = Knn.matryoshkaFromDisk(spark, path, queries,
      coarseDims = 16, pool = 40, k = 10)
    // identical to the in-memory operator
    val mem = Knn.matryoshkaRerank(store, queries, 16, 40, 10)
      .collect().toSet
    assert(fromDisk.collect().toSet === mem)
    val idxScans = fileScans(fromDisk.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("graft_mrldisk")))
    assert(idxScans.nonEmpty, "no scan of the matryoshka layout found")
    val coarseScans = idxScans.filter(
      _.requiredSchema.fieldNames.contains("_prefix"))
    assert(coarseScans.nonEmpty, "no prefix-column coarse scan found")
    // THIS is the 4x coarse-I/O claim, visible in ReadSchema: the coarse
    // scan reads (id, _prefix) only
    coarseScans.foreach { sc =>
      val readCols = sc.requiredSchema.fieldNames.toSet
      assert(!readCols.contains("vector"),
        s"coarse scan reads full vectors: $readCols")
    }
    VerifyIO.deleteRec(root.toFile)
  }

  test("HNSW disk serving: disk walk == memory walk; hop reads prune and push") {
    import graft.index.HnswStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val queries = store.where($"id" < 5)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val strat = HnswStrategy(graft.core.Metric.Cosine)
    val prepared = strat.prepare(store).cache()
    val root = graft.VerifyIO.scratchDir("graft_hnswdisk")
    val path = root.resolve("index").toString
    strat.writeGraphIndex(prepared, path)
    // 1. the disk walk is the in-memory walk, decision for decision —
    //    any divergence in the adjacency/vector round trip would divert it
    val mem = strat.query(prepared, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val dsk = strat.queryFromDisk(spark, path, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(dsk === mem, "disk walk diverged from the in-memory walk")
    // 2. exhaustive-from-disk equals exhaustive-in-memory (the oracle
    //    anchor's identity, pinned here at spec level too)
    val memX = strat.queryExhaustive(prepared, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dskX = strat.queryExhaustiveFromDisk(spark, path, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dskX === memX)
    // 3. the per-hop accessor (every hop goes through prunedRead): a
    //    frontier narrower than the bucket count prunes directories, and
    //    the id list reaches the scan as a pushed filter for row-group
    //    skipping against the id-sorted files
    val narrow = graft.index.GraphLayout.prunedRead(spark, path, "vectors",
      "id", Array(1L, 17L), 16, Seq("id", "vector"))
    assert(narrow.count() == 2)
    val scans = fileScans(narrow.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains("graft_hnswdisk")))
    assert(scans.nonEmpty, "no scan of the graph layout found")
    // ids 1 and 17 both land in bucket 1 of 16 — every access to the
    // layout (the read and its latest-generation dedup side) reads
    // exactly one directory
    assert(scans.forall(_.selectedPartitions.partitionCount == 1),
      "bucket IN-list did not prune the vector directories")
    assert(scans.exists(s => s.toString.contains("PushedFilters: [In(id")
        || s.toString.contains("PushedFilters: [In(`id`")),
      "id IN-list did not reach the scan as a pushed filter")
    prepared.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("HNSW disk insert: appended generation is served (disk == memory " +
      "after insert); compaction folds to one generation, walk unchanged") {
    import graft.index.HnswStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val queries = store.where($"id" < 5)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val strat = HnswStrategy(graft.core.Metric.Cosine)
    val prepared = strat.prepare(store).cache()
    val root = graft.VerifyIO.scratchDir("graft_hnswins")
    val path = root.resolve("index").toString
    strat.writeGraphIndex(prepared, path)
    // three inserts: exact copies of stored rows 0-2 under fresh ids, so
    // each has a known zero-distance twin the walk must discover
    val maxId = store.agg(max($"id")).first().getLong(0)
    val newRows = store.where($"id" < 3)
      .select(($"id" + maxId + 1).as("id"), $"vector")
    val prepared2 = strat.appendGraphIndex(prepared, newRows, path)
    // 1. disk == memory after the insert, decision for decision
    val mem = strat.query(prepared2, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val dsk = strat.queryFromDisk(spark, path, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(dsk === mem, "disk walk diverged from memory after append")
    // 2. the disk walk FINDS the inserted vectors: querying with an
    // inserted embedding surfaces the inserted id itself (or via its twin
    // at dist 0 — both must be in the top-2)
    val qNew = newRows.select($"id".as("query_id"), $"vector".as("qvector"))
    val byQ = strat.queryFromDisk(spark, path, qNew, 2).collect()
      .groupBy(_.getLong(0))
    newRows.collect().map(_.getLong(0)).foreach { qid =>
      assert(byQ(qid).exists(_.getLong(1) == qid),
        s"inserted node $qid not served from disk") }
    // 3. exhaustive-from-disk sees the appended generation: each inserted
    // vector's exact nearest is at distance 0
    val dskX = strat.queryExhaustiveFromDisk(spark, path, qNew, 1).collect()
    assert(dskX.length == 3 && dskX.forall(_.getDouble(2) < 1e-9))
    // 4. compaction folds to a single generation; the walk is unchanged
    strat.compactGraphIndex(spark, path)
    val dsk2 = strat.queryFromDisk(spark, path, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(dsk2 === mem, "compaction changed the disk walk")
    val genDirs = new java.io.File(s"$path/vectors").listFiles()
      .map(_.getName).filter(_.startsWith("_gen=")).toSeq
    assert(genDirs == Seq("_gen=0"), s"expected one generation, got $genDirs")
    // 5. the inserted vectors survived the fold
    val dskX2 = strat.queryExhaustiveFromDisk(spark, path, qNew, 1).collect()
    assert(dskX2.length == 3 && dskX2.forall(_.getDouble(2) < 1e-9))
    prepared.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("HNSW disk delete: tombstones exclude served results while still " +
      "routing; compaction drops them physically; filtered serving works") {
    import graft.index.HnswStrategy
    val store = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    val queries = store.where($"id" < 5)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val strat = HnswStrategy(graft.core.Metric.Cosine)
    val prepared = strat.prepare(store).cache()
    val root = graft.VerifyIO.scratchDir("graft_hnswdel")
    val path = root.resolve("index").toString
    strat.writeGraphIndex(prepared, path)
    val delIds = Seq(0L, 1L).toDF("id")
    assert(strat.deleteFromDisk(spark, path, delIds) == 2L)
    // idempotent: replaying the same delete tombstones nothing new
    assert(strat.deleteFromDisk(spark, path, delIds) == 0L)
    // 1. the walk never serves a deleted id, and equals the in-memory
    //    ef-wide beam with the deleted filtered out (mark-deleted
    //    semantics: routing unchanged, results exclude)
    val dsk = strat.queryFromDisk(spark, path, queries, 10).collect()
    assert(!dsk.exists(r => r.getLong(1) <= 1L), "served a deleted id")
    val memBeam = strat.query(prepared, queries, strat.efSearch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = memBeam.filterNot(_._2 <= 1L).groupBy(_._1).toSeq
      .flatMap { case (_, rs) => rs.sortBy(t => (t._3, t._2)).take(10) }
      .map(t => (t._1, t._2)).toSet
    assert(dsk.map(r => (r.getLong(0), r.getLong(1))).toSet == expect,
      "disk walk != memory beam minus tombstones")
    // 2. exact mode treats deleted as GONE: equals the exact filtered
    //    top-k of the surviving subset
    val dskX = strat.queryExhaustiveFromDisk(spark, path, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val memX = strat.queryFiltered(prepared.where($"id" > 1L), queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dskX == memX)
    // 3. filtered serving composes with tombstones: predicate survivors
    //    minus deleted, exact
    val dskF = strat.queryFilteredFromDisk(spark, path, queries, 10,
      col("id") % 2 === 0)
    val gotF = dskF.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotF.forall(p => p._2 % 2 == 0 && p._2 > 1L))
    val memF = strat.queryFiltered(
      prepared.where($"id" % 2 === 0 && $"id" > 1L), queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotF == memF)
    // 4. compaction physically removes the two rows + the tombstone set;
    //    exact results are unchanged (routing-independent)
    val before = spark.read.parquet(s"$path/vectors").count()
    strat.compactGraphIndex(spark, path)
    assert(spark.read.parquet(s"$path/vectors").count() == before - 2)
    assert(!new java.io.File(s"$path/tombstones").exists())
    val dskX2 = strat.queryExhaustiveFromDisk(spark, path, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dskX2 == memX, "compaction changed exact results")
    val dsk2 = strat.queryFromDisk(spark, path, queries, 10).collect()
    assert(dsk2.nonEmpty && !dsk2.exists(_.getLong(1) <= 1L))
    // 5. crash-window leftover cannot resurrect spent tombstones: a
    //    compaction that died BETWEEN its sidecar commit
    //    (tombstone_generations=0) and its tombstones/ delete leaves the
    //    dir behind. The next deleteFromDisk must clear it before
    //    writing generation 0 — dynamic partition overwrite would keep
    //    the stale partitions and the sidecar bump would make every
    //    reader hide the stale ids again.
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.core.FsIO.read(s"$path/_graph_meta.json"))
    assert(graft.index.GraphLayout.tombstoneGens(path) == 0)
    val nb = meta.get("buckets").asInt()
    val live5 = 5L // a live id the "crashed" compaction had already spent
    Seq(live5).toDF("id")
      .withColumn("_gen", lit(0)).withColumn("_nb",
        pmod(col("id"), lit(nb)).cast("int"))
      .write.partitionBy("_gen", "_nb").parquet(s"$path/tombstones")
    // delete an UNRELATED id landing in a DIFFERENT bucket than id 5's
    val otherBucket = (6L to 60L).find(i =>
      i % nb != live5 % nb && dskX.exists(_._2 == i)).getOrElse(6L)
    assert(strat.deleteFromDisk(spark, path, Seq(otherBucket).toDF("id")) == 1L)
    // the leftover row for id 5 must be GONE from the tombstone store
    // (the fresh delete cleared the dir before rewriting generation 0) …
    assert(spark.read.parquet(s"$path/tombstones")
      .where($"id" === live5).isEmpty,
      "crashed-compaction leftover survived the next delete's rewrite")
    // … so the live id is still served while the fresh delete holds
    val afterLeft = strat.queryExhaustiveFromDisk(spark, path, queries, 10)
      .collect().map(r => r.getLong(1)).toSet
    assert(!afterLeft.contains(otherBucket), "fresh tombstone not honored")
    if (memX.exists(_._2 == live5))
      assert(afterLeft.contains(live5),
        "stale leftover tombstone resurrected: live id vanished")
    prepared.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("flat-codes serving lifecycle (r16, verdict r15 #1/#4): PQ, OPQ, " +
      "and SQ8 serve/filter/threshold/append/delete/compact off the " +
      "CodesLayout, disk == memory at every step") {
    import graft.index.{DiskServing, IndexStrategy, OpqStrategy, PqStrategy, Sq8Strategy}
    import graft.core.Metric
    val store = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"))
      .where($"id" < 200).cache()
    val queries = store.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("query_id", "id", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def lifecycle(strat: IndexStrategy with DiskServing, tag: String,
        threshold: Double): Unit = {
      val base = store.where($"id" < 160)
      val prepared = strat.prepare(base).cache()
      val root = graft.VerifyIO.scratchDir(s"graft_codes_$tag")
      val path = root.resolve("index").toString
      // the doctor rides the whole lifecycle (r16): every mutation must
      // leave a layout with NO fail/warn rows — mutations sweep their
      // own leftovers, so a residual warn here is a broken discipline
      def doctored(who: IndexStrategy with DiskServing, at: String): Unit = {
        val bad = who.fsckServing(spark, path)
          .where($"status" =!= "ok").collect()
        assert(bad.isEmpty, s"$tag $at: non-ok fsck rows ${bad.mkString(",")}")
      }
      strat.writeServingIndex(prepared, path)
      doctored(strat, "post-write")
      // disk == memory, all three query shapes (the reader re-derives
      // its kernel from the SIDECAR's recorded state — equality proves
      // the trained-state round trip, not just the data round trip)
      assert(rows(strat.queryFromDisk(spark, path, queries, 5))
        === rows(strat.query(prepared, queries, 5)), s"$tag: topk disk!=mem")
      assert(rows(strat.queryThresholdFromDisk(spark, path, queries,
          threshold, 50))
        === rows(strat.queryThreshold(prepared, queries, threshold, 50)),
        s"$tag: threshold disk!=mem")
      assert(rows(strat.queryFilteredFromDisk(spark, path, queries, 5,
          $"id" % 2 === 0))
        === rows(strat.queryFiltered(prepared.where($"id" % 2 === 0),
          queries, 5)), s"$tag: filtered disk!=mem")
      // append the held-out slice as _gen=1; served immediately
      val grown = strat.appendToServing(spark, path, prepared,
        store.where($"id" >= 160)).cache()
      assert(rows(strat.queryFromDisk(spark, path, queries, 5))
        === rows(strat.query(grown, queries, 5)),
        s"$tag: post-append disk!=mem")
      // an empty append is a safe no-op (idle micro-batch)
      strat.appendToServing(spark, path, grown, store.where($"id" < 0))
      // duplicate ids are refused in both directions
      intercept[IllegalArgumentException] {
        strat.appendToServing(spark, path, grown, store.where($"id" === 170))
      }
      // delete one base row and one appended row (cross-generation)
      assert(strat.deleteFromDisk(spark, path,
        Seq(5L, 170L).toDF("id")) === 2L)
      val survivors = grown.where(!$"id".isin(5L, 170L))
      assert(rows(strat.queryFromDisk(spark, path, queries, 5))
        === rows(strat.queryFiltered(survivors, queries, 5)),
        s"$tag: post-delete disk!=mem")
      doctored(strat, "post-append+delete")
      // compact folds to _gen=0, service unchanged, append continues
      val before = rows(strat.queryFromDisk(spark, path, queries, 5))
      strat.compactServing(spark, path)
      val gens = new java.io.File(s"$path/vectors").listFiles()
        .map(_.getName).filter(_.startsWith("_gen=")).toSeq
      assert(gens === Seq("_gen=0"), s"$tag post-compact: $gens")
      assert(rows(strat.queryFromDisk(spark, path, queries, 5)) === before,
        s"$tag: compaction changed served results")
      strat.appendToServing(spark, path, survivors,
        Seq((500L, Seq.fill(64)(0.25))).toDF("id", "vector"))
      assert(new java.io.File(s"$path/vectors").listFiles()
        .map(_.getName).filter(_.startsWith("_gen=")).sorted.toSeq
        === Seq("_gen=0", "_gen=1"), s"$tag: post-compact append")
      doctored(strat, "post-compact+append")
      // rebuild after the full CRUD history: the retrained layout serves
      // disk == memory for its OWN fresh state and the doctor still sees
      // a clean layout. (No old-owner lock-out here: the codes READERS
      // deliberately adopt the sidecar's trained state — an untrained
      // instance can serve — so the old instance reads the NEW sidecar
      // and stays correct; the instance-guarded families are the cell
      // layouts, lock-out pinned in ServingDoctorSpec.)
      val r = strat.rebuildServing(spark, path)
      val freshOwner = r.strategy
      assert(rows(freshOwner.queryFromDisk(spark, path, queries, 5))
        === rows(freshOwner.asInstanceOf[IndexStrategy]
          .query(r.prepared, queries, 5)),
        s"$tag: post-rebuild disk!=mem")
      doctored(freshOwner, "post-rebuild")
      prepared.unpersist(); grown.unpersist()
      VerifyIO.deleteRec(root.toFile)
    }
    lifecycle(PqStrategy(Metric.Cosine, m = 4, nbits = 8, rerank = true),
      "pq", threshold = 0.4)
    lifecycle(OpqStrategy(Metric.Cosine, m = 4, nbits = 8, rerank = true),
      "opq", threshold = 0.4)
    lifecycle(Sq8Strategy(Metric.Euclidean), "sq8", threshold = 1.2)
    // cross-family confusion fails LOUDLY: a plain PQ instance must not
    // serve an OPQ layout (rotated vectors) with plausible results
    val opq = OpqStrategy(Metric.Cosine, m = 4, nbits = 8)
    val opqPrep = opq.prepare(store.where($"id" < 50))
    val root = graft.VerifyIO.scratchDir("graft_codes_x")
    val xPath = root.resolve("index").toString
    opq.writeServingIndex(opqPrep, xPath)
    val err = intercept[IllegalArgumentException] {
      PqStrategy(Metric.Cosine, m = 4, nbits = 8)
        .queryFromDisk(spark, xPath, queries, 5)
    }
    assert(err.getMessage.contains("family"), err.getMessage)
    store.unpersist()
    VerifyIO.deleteRec(root.toFile)
  }

  test("DiskServing contract: capability flags route honestly across the " +
      "four top-k disk families; unsupported ops throw") {
    import graft.index._
    import graft.core.Metric
    // r16: filtered, threshold, delete, APPEND, and COMPACTION are TRUE
    // across the whole matrix — the remaining honest-false cells are
    // the ones with a principled reason (Hamming outside the binary
    // family; everything on layoutless BASIC; the facade-level insert
    // gate for the backends whose reference rejects insertion)
    val fams: Seq[(IndexStrategy with DiskServing, Boolean, Boolean, Boolean)] =
      Seq(
        (IvfStrategy(Metric.Cosine), true, true, true),
        (IvfSq8Strategy(Metric.Cosine), true, true, true),
        (IvfPqStrategy(Metric.Cosine), true, true, true),
        (HnswStrategy(Metric.Cosine), true, true, true))
    fams.foreach { case (f, filt, thresh, del) =>
      assert(f.supportsDiskFiltered == filt, s"${f.name} filtered flag")
      assert(f.supportsDiskThreshold == thresh, s"${f.name} threshold flag")
      assert(f.supportsDiskDelete == del, s"${f.name} delete flag")
    }
    Seq[IndexStrategy with DiskServing](IvfStrategy(Metric.Cosine),
      IvfSq8Strategy(Metric.Cosine), IvfPqStrategy(Metric.Cosine),
      IvfBqStrategy(Metric.Cosine)).foreach { f =>
      assert(f.supportsDiskAppend, s"${f.name} append flag (r16)")
      assert(f.supportsCompaction, s"${f.name} compaction flag (r16)")
    }
    // an unsupported op fails loudly, never silently misroutes — and an
    // append against a FLAT (pre-generation) layout fails with the
    // rewrite-first message, never a silent file-level append
    intercept[UnsupportedOperationException] {
      IvfStrategy(Metric.Cosine).queryHammingFromDisk(spark,
        "/nonexistent", Seq((0L, Seq(0.0))).toDF("query_id", "qvector"),
        2, 10)
    }
    val flatRoot = graft.VerifyIO.scratchDir("graft_flatapp")
    val flat = flatRoot.resolve("index").toString
    val st = sf("embeddings")
      .select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("vector"))
      .where($"id" < 60)
    val ivf = IvfStrategy(Metric.Cosine, nlist = 4, nprobe = 4)
    val prep = ivf.prepare(st)
    ivf.writeIndex(prep, flat) // the portability layout, no sidecar
    val err = intercept[IllegalArgumentException] {
      ivf.appendToServing(spark, flat, prep,
        st.where($"id" < 0)) // content irrelevant: the gate fires first
    }
    assert(err.getMessage.contains("writeServingIndex"),
      s"flat-layout append error must name the fix, got: ${err.getMessage}")
    VerifyIO.deleteRec(flatRoot.toFile)
  }
}
