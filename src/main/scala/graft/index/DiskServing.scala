package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.TopK

/** The disk-resident serving contract (verdict r11 #8): every index
  * family that answers TOP-K straight off its partitioned parquet layout
  * implements ONE interface, so a serving tier routes on capability
  * flags instead of per-family reflection. Members: [[IvfStrategy]]
  * (flat cells), [[IvfSq8Strategy]] (scalar-coded cells),
  * [[IvfPqStrategy]] (PQ-coded cells, rerank included),
  * [[HnswStrategy]] and [[NnDescentStrategy]] (per-hop graph walk — every
  * graph operation has its one body in [[GraphServing]], over the one
  * [[GraphLayout]]), [[LshStrategy]]
  * (probe-pruned (table, bucket) postings + id-bucketed rerank
  * vectors), [[BqStrategy]] (id-bucketed signature+vector table for
  * top-k/threshold, plus a nested MIH chunk table behind the
  * [[supportsDiskHamming]] capability — the binary family's native
  * integer-radius shape, kept a SEPARATE entry point rather than
  * shoehorned into the metric-units threshold parameter), and
  * [[IvfBqStrategy]] (cell-partitioned signature scan).
  *
  * Writing the layout stays the family's own entry point
  * ([[IndexStrategy.writeIndex]] for the cell families,
  * [[HnswStrategy.writeGraphIndex]] for the graph) because layouts
  * differ in KIND — cells scan, graphs hop — and a serving tier writes
  * once at build time but queries forever; the uniform surface is the
  * query/maintenance side.
  *
  * Capability flags default to false; a family that implements an
  * optional operation overrides the flag AND the method together, so
  * `supportsX` is always an honest router predicate.
  */
trait DiskServing { self: IndexStrategy =>

  // Writer identity is an explicit `tag` parameter on every mutating
  // entry point, NOT instance state (advice r17: a tag passed once to
  // the facade stuck to the shared strategy instance for every later
  // append, and concurrent callers on one instance cross-contaminated
  // tags). The default is the per-JVM tag (pid@host) — a same-process
  // replay of a crashed append reclaims its own slot while another
  // process's claim of the same slot is a detected conflict. A
  // deployment with deterministic replay (a streaming job re-running a
  // micro-batch in a NEW process) passes its own stable identity, e.g.
  // `stream-<batchId>`. One tag names ONE logical writer; calls under
  // the same tag must be serialized by the caller.

  /** Write the family's serving layout — the cell families' partitioned
    * [[IndexStrategy.writeIndex]] by default; the graph family overrides
    * to its bucketed graph layout. The one write a serving tier performs
    * at build time; everything else on this trait reads it. */
  def writeServingIndex(prepared: DataFrame, path: String): Unit =
    self.writeIndex(prepared, path)

  /** Top-k served from the layout at `path` — identical results to
    * [[IndexStrategy.query]] on the in-memory prepared frame
    * (spec-pinned per family). */
  def queryFromDisk(spark: SparkSession, path: String, queries: DataFrame,
      k: Int): DataFrame

  /** Pre-filter metadata search off the layout (k results survive
    * arbitrarily selective predicates; the metadata column rides IN the
    * layout so the predicate reaches the scan). */
  def supportsDiskFiltered: Boolean = false
  def queryFilteredFromDisk(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, predicate: Column): DataFrame =
    throw new UnsupportedOperationException(
      s"$name does not serve filtered queries from disk")

  /** Radius search off the same layout (the families whose kernel has a
    * distance-threshold form). */
  def supportsDiskThreshold: Boolean = false
  def queryThresholdFromDisk(spark: SparkSession, path: String,
      queries: DataFrame, threshold: Double, maxK: Int): DataFrame =
    throw new UnsupportedOperationException(
      s"$name does not serve threshold queries from disk")

  /** Exact Hamming-radius search off the layout — the BINARY family's
    * native range-search shape (FAISS `IndexBinaryFlat.range_search`
    * takes an integer bit radius; `faiss.py:93-100` is the scalar end of
    * the same quantizer spectrum). Inclusive `<= bits`, (dist, id)-ranked,
    * capped at `maxK` — deliberately a separate entry point from
    * [[queryThresholdFromDisk]], whose threshold is in the exact metric's
    * units: overloading one parameter with two unit systems would be the
    * silent-divergence trap the facade's max_k audit (r13) closed. */
  def supportsDiskHamming: Boolean = false
  def queryHammingFromDisk(spark: SparkSession, path: String,
      queries: DataFrame, bits: Int, maxK: Int): DataFrame =
    throw new UnsupportedOperationException(
      s"$name does not serve Hamming-radius queries from disk")

  /** Delete against the layout — partition-scoped rewrite (cell
    * families) or tombstone generations (graph family); returns rows
    * removed/newly tombstoned. `rows` must carry `id`; families that
    * compute the touched partition FROM the vector (IVF) require
    * `vector` too — see each implementation's scaladoc. */
  def supportsDiskDelete: Boolean = false
  def deleteFromDisk(spark: SparkSession, path: String, rows: DataFrame,
      tag: String = graft.core.Generations.defaultWriterTag): Long =
    throw new UnsupportedOperationException(
      s"$name does not delete from disk")

  /** Append an increment to the layout as a committed generation AND
    * return the grown PREPARED frame (prevPrepared ∪ the prepared
    * increment) — the one capability behind the facade's
    * `insertIntoServing`, so the facade routes on a flag instead of
    * per-family instanceof (review r14; the trait's founding rule).
    * Every layout family implements it as of r16 — the graph/bucket
    * families since r14/r15, the cell families through the shared
    * generation machinery ([[IvfStrategy.appendPreparedCells]]); only
    * layoutless BASIC keeps the flag false. */
  def supportsDiskAppend: Boolean = false
  def appendToServing(spark: SparkSession, path: String,
      prevPrepared: DataFrame, newRows: DataFrame,
      tag: String = graft.core.Generations.defaultWriterTag): DataFrame =
    throw new UnsupportedOperationException(
      s"$name has no appendable serving layout")

  /** Fold the layout's committed append generations — and, for the
    * tombstone families, spent tombstones — back to a single `_gen=0`
    * state (verdict r14 #3: the append story went through this trait,
    * so the fold-generations-back story does too, or a deployment must
    * special-case per family exactly where the trait promised it
    * wouldn't). Pure I/O optimization: served results are identical
    * before and after (spec-pinned per family), appends continue on the
    * compacted layout. Implemented by every layout family as of r16
    * (the cell families fold through
    * [[IvfStrategy.compactCells]]). */
  def supportsCompaction: Boolean = false
  final def compactServing(spark: SparkSession, path: String,
      tag: String = graft.core.Generations.defaultWriterTag): Unit = {
    if (!supportsCompaction)
      throw new UnsupportedOperationException(
        s"$name has no compactable serving layout")
    maintained(spark, path, tag)(doCompactServing(spark, path))
  }

  /** the family's compaction body, run under the maintenance fence */
  protected def doCompactServing(spark: SparkSession, path: String): Unit =
    throw new UnsupportedOperationException(
      s"$name has no compactable serving layout")

  /** Maintenance fence (verdict r17 #2): compaction and rebuild sweep
    * the claims ledger and swap directories under the assumption that
    * no writer is in flight — this makes the assumption CHECKED rather
    * than hoped. The fence takes the layout's single `maint` marker
    * (refusing while any unresolved writer claim exists) and every
    * writer's claim checks the marker after winning its slot
    * ([[graft.core.Generations.claimAppendGeneration]]), so a
    * maintenance-vs-writer race fails loudly on whichever side arrives
    * second. Success path: the maintenance body's own ledger sweep
    * removes the marker; failure path: the finally releases it, so a
    * thrown (not crashed) maintenance never wedges writers. A CRASHED
    * maintenance leaves the marker blocking writers loudly — the safe
    * direction; the re-run reclaims it under the same tag. */
  protected final def maintained[A](spark: SparkSession, path: String,
      tag: String)(body: => A): A = {
    graft.core.Generations.beginMaintenance(spark, path, tag,
      committedCounts(spark, path))
    try body
    finally graft.core.Generations.endMaintenance(spark, path, tag)
  }

  /** Committed generation count per claim slot, read leniently from the
    * family's sidecar (absent layout/sidecar → 0, making EVERY claim
    * count as unresolved — the safe direction). The maintenance fence's
    * spent-vs-unresolved predicate; families with a second counter (the
    * graph families' tombstones) add their `tomb` slot. */
  def committedCounts(spark: SparkSession, path: String): Map[String, Int]

  /** Retrain the layout's LEARNED state (codebooks, ranges, rotation,
    * graph) on its CURRENT live rows and atomically swap the retrained
    * layout in — the actuator the staleness monitors point at
    * (`q_index_staleness` / `q_ivf_cell_skew` report drift; appends
    * deliberately never retrain, FAISS add-after-train parity, so
    * without this every "your codebook is stale" reading is advice a
    * deployment cannot act on through the serving surface). Returns the
    * freshly-trained strategy with the rows it trained on and its
    * prepared frame; the CALLING instance's trained state no longer
    * matches the new sidecar, so its next serving call is rejected by
    * the codebook guard — by design: exactly one instance serves a
    * layout's current state.
    *
    * True only for the families with data-learned state. LSH and BQ
    * stay false honestly: their hash state (planes seed, sign
    * signatures) is data-independent, nothing ever goes stale, and
    * [[compactServing]] is already their complete maintenance story. */
  def supportsRebuild: Boolean = false
  final def rebuildServing(spark: SparkSession, path: String,
      tag: String = graft.core.Generations.defaultWriterTag): DiskServing.Rebuilt = {
    if (!supportsRebuild)
      throw new UnsupportedOperationException(
        s"$name has no retrainable serving state — its layout never goes " +
          "stale under appends/deletes (hash planes/signatures are " +
          "seed-deterministic); compactServing is its maintenance operation")
    maintained(spark, path, tag)(doRebuildServing(spark, path))
  }

  /** the family's rebuild body, run under the maintenance fence */
  protected def doRebuildServing(spark: SparkSession,
      path: String): DiskServing.Rebuilt =
    throw new UnsupportedOperationException(
      s"$name has no retrainable serving state")

  /** Layout doctor ([[ServingFsck]]): verify the layout's crash-window
    * invariants against the actual directory tree and report one row
    * per check — (component, check, status ok|warn|fail, observed).
    * Diagnosis only: never repairs (the mutation paths sweep their own
    * leftovers), never throws on a recognized layout (a monitoring tier
    * wants rows, not exceptions — a missing sidecar is a `fail` row). */
  def fsckServing(spark: SparkSession, path: String): DataFrame
}

object DiskServing {
  /** result of [[DiskServing.rebuildServing]]: the freshly-trained
    * strategy that now owns the layout, the live store rows the retrain
    * ran on, and the retrained prepared frame (what the swapped-in
    * layout holds) */
  final case class Rebuilt(strategy: IndexStrategy with DiskServing,
      store: DataFrame, prepared: DataFrame)

  /** Serialize a partition-rewrite DELETE against other deleters and
    * the maintenance fence (review r18): the partition-rewrite families
    * (cells, codes, LSH, BQ) delete by rewriting survivor partitions in
    * place — no generation counter, so the claim protocol's slot
    * numbering doesn't apply, but two concurrent deleters racing the
    * SAME partitions would clobber each other's survivor rewrites, and
    * a delete racing a compaction's fold-and-swap would be silently
    * dropped or write into the retired directory. The delete takes the
    * layout's single `del-0` slot as a LEASE for its duration — the
    * claim path's maintenance-marker check makes delete-vs-maintenance
    * fail loudly in both orders (the fence counts `del` claims as
    * always-unresolved via committedCounts' `"del" -> 0`) — and always
    * releases it on exit: a del claim never spends. */
  def withDeleteLease[A](spark: SparkSession, path: String, tag: String)(
      body: => A): A = {
    graft.core.Generations.claimAppendGeneration(spark, path, tag,
      () => 0, slot = "del")
    try body
    finally graft.core.Generations.releaseClaim(spark, path, 0, tag,
      slot = "del")
  }
}

/** Shared physical discipline for the id-bucketed RERANK-VECTORS
  * sub-layouts ([[LshStrategy]]'s `vectors/`, [[BqStrategy]]'s
  * `vectors/`): rows partitioned by `_nb = pmod(xxhash64(id), fan)` and
  * id-sorted within files; candidate fetches join on (_nb, id) so
  * dynamic partition pruning skips buckets no candidate touches and
  * row-group stats skip within surviving files. ONE implementation of
  * the bucket key and the scoring join (review r14: the two families
  * had near-verbatim copies — the drift class the GraphLayout refactor
  * eliminated for the graph twins). */
private[graft] object VectorBuckets {
  import org.apache.spark.sql.functions._

  /** The bucket key — write side and join side MUST share it. The id is
    * cast to long INSIDE the key (advice r14): xxhash64 hashes
    * IntegerType and LongType inputs differently, so a layout written
    * from an int-id frame would otherwise be silently unfindable by the
    * long-typed delete/append/rerank sides — casting here makes every
    * side type-insensitive by construction (no-op for long ids, which is
    * what every existing layout holds). */
  def nb(fan: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("id").cast("long")), lit(fan))

  /** a fresh (non-generation) bucketed write — kept for standalone
    * layouts; the serving layouts write generations below */
  def writeBucketed(rows: DataFrame, path: String, fan: Int): Unit =
    rows.withColumn("_nb", nb(fan))
      .repartition(col("_nb"))
      .sortWithinPartitions("id")
      .write.mode("overwrite").partitionBy("_nb")
      .parquet(path)

  /** One `_gen=N` generation of a pre-keyed sub-layout (the LSH/BQ
    * append shape: `partCol` already computed by the caller — postings
    * `_pk`, vector buckets `_nb`, MIH `_pk`): dynamic partition
    * overwrite, so a REPLAYED append (crash after the data write,
    * before the sidecar commit) overwrites its own generation instead
    * of double-appending; rows are sorted by `sortCol` within files so
    * the layout's row-group-skipping discipline survives appends. ONE
    * implementation for both families (the GraphLayout lesson: shared
    * builders over kept-in-sync copies).
    *
    * For `gen > 0` the target generation directory is CLEARED first
    * (r16 second review pass): every caller writes at gen = the
    * sidecar's committed count, so `_gen=gen` can never hold committed
    * rows — anything already there is a crashed DIFFERENT-batch append's
    * orphan, and dynamic partition overwrite alone would keep its
    * untouched partitions, which the sidecar bump after this write
    * would then resurrect as committed rows (the same class as the
    * graph spent-tombstone leftover, `GraphServing.deleteFromDisk`).
    * Same-batch replays are unaffected: delete-then-rewrite of
    * identical content. Orphans are invisible to readers (`_gen <`
    * committed), so the clear races with no scan. */
  def writeGeneration(rows: DataFrame, partCol: String, sortCol: String,
      sub: String, gen: Int): Unit = {
    if (gen > 0) clearOrphanGeneration(rows.sparkSession, sub, gen)
    rows.withColumn("_gen", lit(gen))
      .repartition(col(partCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_gen", partCol).parquet(sub)
  }

  /** delete an UNCOMMITTED generation's directory if present — callers
    * guarantee `gen` ≥ the sidecar's committed count, so the directory
    * can only be a crashed append's leftover */
  def clearOrphanGeneration(spark: SparkSession, sub: String,
      gen: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$sub/_gen=$gen")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Fresh (re)write of a generation sub-layout: plain `_gen=0` on a
    * virgin path; staging + rename swap when the path exists (the
    * [[GraphLayout.writeFresh]] argument: dynamic partition overwrite
    * alone keeps stale partitions a rewrite doesn't touch, and a
    * pre-delete would yank live files from under an input plan reading
    * the same layout — which is exactly what compaction does).
    * `withSidecar` runs against the directory the data was just written
    * into — the live dir on a virgin write, the STAGING dir before the
    * swap on a rewrite — for sub-layouts whose sidecar lives INSIDE them
    * (the BQ `mih/_mih_meta.json` case, advice r15): writing the sidecar
    * into staging means the promoted directory is born complete, so no
    * crash window ever leaves the layout without its config (a re-run of
    * a compact that crashed in such a window could not even start — its
    * own reader fails on the missing sidecar). */
  def writeFreshGeneration(rows: DataFrame, partCol: String,
      sortCol: String, sub: String,
      withSidecar: String => Unit = _ => ()): Unit =
    graft.core.Generations.writeStaged(rows.sparkSession, sub) { dir =>
      writeGeneration(rows, partCol, sortCol, dir, 0)
      withSidecar(dir)
    }

  /** exact metric scores of (query_id, id) candidates against an
    * id-bucketed vectors frame through the DPP-keyed (_nb, id) join —
    * `queries` must already be in the caller's prepared form (normalized
    * for the families that normalize); `fan` is the SIDECAR's recorded
    * value, never an instance constant. */
  def rerank(vecs: DataFrame, queries: DataFrame, cands: DataFrame,
      fan: Int, metric: graft.core.Metric): DataFrame = {
    val d = graft.functions.VectorFunctions.distance(metric)(
      col("vector"), col("qvector"))
    cands
      .withColumn("_nb", nb(fan))
      .join(vecs.select(col("_nb"), col("id"), col("vector")),
        Seq("_nb", "id"))
      .join(broadcast(queries.select(col("query_id"), col("qvector"))),
        Seq("query_id"))
      .select(col("query_id"), col("id"), greatest(d, lit(0.0)).as("dist"))
  }
}

/** Shared mechanics for the FLAT-CODES serving layouts (r16:
  * [[PqStrategy]], [[Sq8Strategy]], and [[OpqStrategy]] through PQ):
  * one id-bucketed generation sub-layout `vectors/_gen=N/_nb=…` holding
  * the full prepared rows, plus ONE sidecar file at the layout root
  * carrying the family's entire trained state — so the layout is
  * self-describing, the commit point is a single sidecar write, and the
  * maintenance ops (delete by bucket, append as a guarded generation,
  * compaction fold) are byte-identical in discipline across the
  * families (the VectorBuckets/GraphLayout lesson: shared builders over
  * kept-in-sync copies). The family-specific parts — sidecar schema and
  * the scoring kernels — stay in the strategies. */
private[graft] object CodesLayout {
  import org.apache.spark.sql.functions._

  /** fresh write: `_gen=0` data + sidecar, staged WHOLE and swapped
    * when the path exists — no window where new codes sit under an old
    * sidecar's trained state */
  def writeServing(keyed: DataFrame, path: String, metaFile: String,
      metaJson: String): Unit =
    graft.core.Generations.writeStaged(keyed.sparkSession, path) { dir =>
      VectorBuckets.writeGeneration(keyed, "_nb", "id",
        s"$dir/vectors", gen = 0)
      graft.core.FsIO.write(s"$dir/$metaFile", metaJson)
    }

  /** committed generations of the vectors sub-layout — swap-tolerant
    * (the sub-layout is a compact-and-swap target; readers are
    * lock-free by design, see [[graft.core.Generations.readSwapSafe]]) */
  def committed(spark: SparkSession, path: String, gens: Int): DataFrame =
    graft.core.Generations.readSwapSafe(spark, s"$path/vectors")
      .where(col("_gen") < gens)

  /** delete by id: touched `_nb` buckets computed from the ids, the
    * (generation, bucket) pairs that actually hold them probed with one
    * bucket-pruned, id-semi-joined read — I/O proportional to the
    * batch. Returns rows removed. */
  def deleteIds(spark: SparkSession, path: String, fan: Int, gens: Int,
      rows: DataFrame): Long = {
    val keyed = rows.select(col("id").cast("long").as("id")).distinct()
      .withColumn("_nb", VectorBuckets.nb(fan)).cache()
    try {
      val nbs = keyed.select("_nb").distinct().collect().map(_.getLong(0))
        .map(java.lang.Long.valueOf).toSeq
      if (nbs.isEmpty) return 0L
      val present = committed(spark, path, gens)
        .where(col("_nb").isin(nbs: _*))
        .join(keyed.select("id"), Seq("id"), "left_semi")
        .select(col("_gen").cast("int"), col("_nb").cast("long"))
        .distinct().collect()
      if (present.isEmpty) return 0L
      val grouped = present.groupBy(_.getInt(0)).map { case (g, rs) =>
        g -> rs.map(r => java.lang.Long.valueOf(r.getLong(1)): Any).toSeq
      }
      val (before, after) = PartitionRewrite.dropIdsByGen(spark,
        s"$path/vectors", "_nb", grouped, keyed.select("id"),
        sortCol = Some("id"))
      before - after
    } finally keyed.unpersist()
  }

  /** append an increment (already `_nb`-keyed) as a CLAIMED `_gen=N`
    * (verdict r16 #1 — `readGens` re-reads the family sidecar so a
    * contended slot retries at the committed count; `tag` names the
    * logical writer): batch self-duplicate and cross-layout
    * id-freshness guards through the bucket-pruned read, dynamic
    * partition overwrite so a same-tag replay overwrites its own
    * generation, then the caller-provided sidecar commit (`commitMeta`
    * receives the CLAIMED generation count + 1 — the commit point). A
    * failure after the claim and before the commit releases the slot. */
  def appendGeneration(spark: SparkSession, path: String, tag: String,
      readGens: () => Int, keyed: DataFrame,
      commitMeta: Int => Unit): Unit = {
    val selfDup = keyed.groupBy("id").agg(count(lit(1)).as("_c"))
      .where(col("_c") > 1).limit(1).collect()
    require(selfDup.isEmpty,
      s"append batch contains duplicate ids (e.g. id " +
        s"${selfDup.headOption.map(_.getLong(0)).getOrElse(-1L)})")
    val gens = graft.core.Generations.claimAppendGeneration(spark, path,
      tag, readGens)
    try {
      val nbs = keyed.select("_nb").distinct().collect().map(_.getLong(0))
        .map(java.lang.Long.valueOf).toSeq
      val clash = committed(spark, path, gens)
        .where(col("_nb").isin(nbs: _*))
        .select("id")
        .join(keyed.select("id"), Seq("id"), "left_semi")
        .limit(1).collect()
      require(clash.isEmpty,
        s"append contains ids already present in the layout at $path " +
          s"(e.g. id ${clash.headOption.map(_.getLong(0)).getOrElse(-1L)})")
      VectorBuckets.writeGeneration(keyed, "_nb", "id",
        s"$path/vectors", gen = gens)
      commitMeta(gens + 1)
    } catch {
      case e: Throwable =>
        graft.core.Generations.releaseClaim(spark, path, gens, tag)
        throw e
    }
  }

  /** fold committed generations back to `_gen=0` (staged + swapped),
    * then the caller's sidecar rewrite resets the count — a crash
    * between the two leaves a count HIGHER than the generations
    * present, which every reader's `_gen <` filter tolerates, and a
    * re-run heals */
  def compact(spark: SparkSession, path: String, gens: Int,
      commitMeta: () => Unit): Unit = {
    VectorBuckets.writeFreshGeneration(
      committed(spark, path, gens).drop("_gen"),
      "_nb", "id", s"$path/vectors")
    commitMeta()
    // the count reset: spent claims must not outlive it, or the first
    // post-compact append's slot would read as foreign-claimed forever
    graft.core.Generations.clearClaims(spark, path)
  }
}

/** Partition-scoped delete-rewrite over a partitioned layout — the
  * [[IvfStrategy.deleteFromDisk]] idiom factored for reuse: survivors of
  * ONLY the named partition directories land in a temp layout and swap
  * in per directory (never an in-place overwrite of a path being read);
  * a partition emptied by the delete is removed outright — the edge
  * dynamic partition overwrite silently skips. */
private[graft] object PartitionRewrite {
  import org.apache.spark.sql.functions._

  /** Drop rows whose `id` appears in `deleteIds` from the partitions of
    * `path` whose `partCol` value is in `partVals`; everything else is
    * untouched (byte-identical files). `sortCol`, when given, restores
    * the layout's within-file sort discipline on the rewritten
    * partitions (review r14 — the serving reads' row-group skipping
    * depends on it). Each partition swaps in via rename-aside with
    * rollback (the [[graft.core.Generations.swapInto]] protocol, per
    * directory): a failed rename rolls the live directory back and
    * throws instead of silently losing survivors. Both the temp layout
    * and the retired directory use dot-prefixed names (advice r14): a
    * name like `_pk=5__old` contains '=', so Spark's partition discovery
    * would read a crash's leftover as a bogus partition VALUE (and flip
    * the column's inferred type to string); dot-prefixed paths are
    * hidden from discovery, so every crash window leaves only invisible
    * leftovers — swept on the next delete of the same path. Returns
    * (rows before, rows after) over the affected partitions. */
  def dropIds(spark: SparkSession, path: String, partCol: String,
      partVals: Seq[Any], deleteIds: DataFrame,
      sortCol: Option[String] = None): (Long, Long) = {
    if (partVals.isEmpty) return (0L, 0L)
    val affected = spark.read.parquet(path)
      .where(col(partCol).isin(partVals: _*)).cache()
    val before = affected.count()
    val survivors0 = affected
      .join(deleteIds.select("id"), Seq("id"), "left_anti")
    val survivors = sortCol.fold(survivors0)(s =>
      survivors0.repartition(col(partCol))
        .sortWithinPartitions(col(partCol), col(s))).cache()
    val after = survivors.count()
    val livePath = new org.apache.hadoop.fs.Path(path)
    val fs = livePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hidden temp: a dot-prefixed SIBLING (never inside the live dir),
    // with '=' scrubbed from the name so no listing can partition-parse it
    val tmpPath = new org.apache.hadoop.fs.Path(livePath.getParent,
      "." + livePath.getName.replace("=", "_") + ".delete.tmp")
    // clear leftovers from a crashed earlier delete FIRST — the temp's
    // stale partitions must not be promoted (the r12/r13 staging lesson),
    // and spent hidden retired dirs are dead weight
    if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
    if (fs.exists(livePath))
      fs.listStatus(livePath).map(_.getPath)
        .filter(_.getName.startsWith(".old_"))
        .foreach(p => fs.delete(p, true))
    survivors.write.mode("overwrite").partitionBy(partCol)
      .parquet(tmpPath.toString)
    partVals.foreach { v =>
      val dst = new org.apache.hadoop.fs.Path(s"$path/$partCol=$v")
      val src = new org.apache.hadoop.fs.Path(s"$tmpPath/$partCol=$v")
      val old = new org.apache.hadoop.fs.Path(livePath,
        s".old_$partCol=$v")
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(dst) && !fs.rename(dst, old))
        throw new java.io.IOException(s"delete: cannot retire $dst")
      if (fs.exists(src) && !fs.rename(src, dst)) {
        fs.rename(old, dst) // roll back the live dir before failing
        throw new java.io.IOException(s"delete: cannot promote $src")
      }
      fs.delete(old, true)
    }
    fs.delete(tmpPath, true)
    affected.unpersist(); survivors.unpersist()
    (before, after)
  }

  /** [[dropIds]] over a GENERATION-NESTED layout (`_gen=N/` above the fan
    * key — the LSH/BQ append shape): each generation's subdir is its own
    * partitioned layout, so the rewrite recurses per generation with the
    * same rename-aside discipline, touching only the (generation,
    * partition) pairs the delete batch maps to. `genToVals` comes from
    * the caller's pruned read of the layout itself (an id's rows live in
    * exactly one generation — appends refuse duplicate ids), so I/O
    * stays proportional to the batch. Returns summed (before, after). */
  def dropIdsByGen(spark: SparkSession, path: String, partCol: String,
      genToVals: Map[Int, Seq[Any]], deleteIds: DataFrame,
      sortCol: Option[String] = None): (Long, Long) =
    genToVals.toSeq.sortBy(_._1).foldLeft((0L, 0L)) {
      case ((b, a), (gen, vals)) =>
        val (db, da) = dropIds(spark, s"$path/_gen=$gen", partCol, vals,
          deleteIds, sortCol)
        (b + db, a + da)
    }
}


/** The physical layout both GRAPH families serve from ([[HnswStrategy]]'s
  * layered graph, [[NnDescentStrategy]]'s single-layer k-NN graph):
  *   vectors/      every prepared column, `_gen=N/_nb=id mod buckets`
  *                 dirs, id-sorted within files (metadata rides in the
  *                 layout so filtered serving pushes its predicate into
  *                 the scan)
  *   <adjacency>/  (src, dst) per adjacency sub-layout, bucketed by src
  *                 — `layer_0..L` for HNSW, `graph` for NN-descent
  *   tombstones/   deleted ids, one `_gen` per committed delete
  *   the family's sidecar (layout shape, the WRITER's walk config, the
  *   committed generation count, the entry set) and `_tomb_meta.json`.
  * This object holds the physical pieces (bucketed generation writes,
  * the pruned point read, the per-hop reader, the tombstone counter);
  * every operation over the layout has its one body in [[GraphServing]]
  * (r13 lesson: shared builders over kept-in-sync copies). */
private[graft] object GraphLayout {
  import org.apache.spark.sql.functions._

  /** The tombstone counter's OWN sidecar, split from the graph meta
    * (advice r17): an append's commit rewrites the graph meta
    * (generations + recomputed entries) and a delete's commit rewrites
    * ONLY this file, so concurrent cross-kind writers never
    * read-modify-write each other's counter — the previous shared-file
    * commit let an append (serialized only against other appends)
    * silently revert a delete's tombstone count committed in between,
    * resurrecting the deleted rows, and symmetrically let a delete
    * revert an append's generation count, hiding its rows. Absent file
    * = no tombstones, so pre-delete layouts and fresh rewrites read as
    * tombstone-free without a write. */
  def tombstoneGens(path: String): Int = {
    // the split sidecar is authoritative when present (even at 0); a
    // layout written BEFORE the split (review r18) carries the counter
    // inside its graph meta — read it there rather than silently
    // resurrecting its committed tombstones as "count 0"
    if (graft.core.FsIO.exists(s"$path/_tomb_meta.json"))
      graft.core.Generations.sidecarCount(s"$path/_tomb_meta.json",
        "tombstone_generations")
    else math.max(
      graft.core.Generations.sidecarCount(s"$path/_graph_meta.json",
        "tombstone_generations"),
      graft.core.Generations.sidecarCount(s"$path/_nn_serving_meta.json",
        "tombstone_generations"))
  }

  def writeTombstoneGens(path: String, tGens: Int): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("tombstone_generations", tGens)
    graft.core.FsIO.write(s"$path/_tomb_meta.json",
      mapper.writeValueAsString(root))
  }

  /** committed tombstone set as an `(id)` frame — None when the layout
    * has none. Tombstones live as their own `_gen` generations under
    * `tombstones/`, bucketed like everything else so a membership check
    * against a bounded candidate set prunes directories; the sidecar
    * count gates uncommitted generations exactly as for data. */
  def tombstoneFrame(spark: SparkSession,
      path: String): Option[DataFrame] = {
    val tGens = tombstoneGens(path)
    if (tGens <= 0) None
    else Some(graft.core.Generations.readSwapSafe(spark,
        s"$path/tombstones")
      .where(col("_gen") < tGens).select("id").distinct())
  }

  /** delete the whole `tombstones/` sub-layout, if present */
  def dropTombstones(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** the sidecar's committed generation count; a sidecar without one
    * (pre-generation layout) gates nothing */
  def committedGens(meta: com.fasterxml.jackson.databind.JsonNode): Int =
    Option(meta.get("generations")).map(_.asInt()).getOrElse(Int.MaxValue)

  /** the sidecar's entry set */
  def entries(meta: com.fasterxml.jackson.databind.JsonNode): Array[Long] = {
    val arr = meta.get("entries")
    Array.tabulate(arr.size())(i => arr.get(i).asLong())
  }

  /** one `_gen=N` generation of a bucketed subdir — id-sorted within
    * each bucket (row-group min/max stats on the node id become tight
    * ranges for the pushed `IN` lists), DYNAMIC partition overwrite so a
    * replayed append REPLACES its own generation (the sketch-snapshot
    * replay discipline). */
  def writeGeneration(rows: DataFrame, idCol: String, sub: String,
      buckets: Int, gen: Int): Unit = {
    // gen > 0: clear a crashed different-batch append's orphan first —
    // the [[VectorBuckets.writeGeneration]] argument (the sidecar bump
    // after this write would resurrect the orphan's untouched partitions)
    if (gen > 0) VectorBuckets.clearOrphanGeneration(
      rows.sparkSession, sub, gen)
    rows.withColumn("_gen", lit(gen))
      .withColumn("_nb", pmod(col(idCol), lit(buckets)).cast("int"))
      .repartition(col("_nb")).sortWithinPartitions("_nb", idCol)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_gen", "_nb").parquet(sub)
    // a partitioned write of NO rows leaves no data file, and a
    // sub-layout without one cannot be read (no schema to infer) — e.g.
    // an upper HNSW layer whose every node a compaction dropped; one
    // empty, schema-bearing file keeps it readable as empty
    val genDir = new org.apache.hadoop.fs.Path(s"$sub/_gen=$gen")
    if (!genDir.getFileSystem(rows.sparkSession.sparkContext
        .hadoopConfiguration).exists(genDir))
      rows.limit(0).write.mode("overwrite").parquet(s"$genDir/_nb=0")
  }

  /** Fresh (re)write of a bucketed subdir as generation 0, staged and
    * swapped when the path exists ([[graft.core.Generations.writeStaged]]
    * — review r14: no stale buckets survive a rewrite, and a rewrite
    * reading the same layout keeps its input files until the swap). */
  def writeFresh(rows: DataFrame, idCol: String, sub: String,
      buckets: Int): Unit =
    graft.core.Generations.writeStaged(rows.sparkSession, sub)(dir =>
      writeGeneration(rows, idCol, dir, buckets, gen = 0))

  /** committed generations only (`maxGen` = the sidecar count, so an
    * orphan generation from a crashed append is ignored); pre-generation
    * layouts (no `_gen` column) read unchanged */
  def committed(base: DataFrame, maxGen: Int): DataFrame =
    if (base.columns.contains("_gen")) base.where(col("_gen") < maxGen)
    else base

  /** The pruned point read: bucket IN-list as a PARTITION filter +
    * node-id IN-list pushed into the scan (row-group skipping against
    * the id-sorted files), committed generations only, and for a key an
    * append touched the LATEST generation's rows replace the earlier
    * ones (the adjacency re-cap writes a full row set per touched src;
    * vector ids are append-only unique, so the dedup is a no-op there).
    * Swap-tolerant: the sub-layout is a compaction swap target. */
  def prunedRead(spark: SparkSession, path: String, sub: String,
      idCol: String, ids: Array[Long], buckets: Int, cols: Seq[String],
      maxGen: Int = Int.MaxValue): DataFrame =
    pruneIds(committed(graft.core.Generations.readSwapSafe(spark,
      s"$path/$sub"), maxGen), idCol, ids, buckets, cols, maxGen)

  /** the IN-list prune of [[prunedRead]] over a resolved base frame */
  def pruneIds(base: DataFrame, idCol: String, ids: Array[Long],
      buckets: Int, cols: Seq[String],
      maxGen: Int = Int.MaxValue): DataFrame = {
    val hasGen = base.columns.contains("_gen")
    if (ids.isEmpty) base.where(lit(false)).select(cols.map(col): _*)
    else {
      val nbs = ids.map(i => (((i % buckets) + buckets) % buckets).toInt)
        .distinct.map(Integer.valueOf).toSeq
      val filtered = base.where(col("_nb").isin(nbs: _*) &&
        col(idCol).isin(ids.map(java.lang.Long.valueOf).toSeq: _*))
      // the latest-wins dedup join only exists when deltas exist: a
      // single-generation layout (fresh write, or post-compaction — the
      // steady serving state) reads with the single-scan plan
      val out = if (hasGen && maxGen > 1) {
        val latest = filtered.groupBy(idCol).agg(max("_gen").as("_gen"))
        filtered.join(latest, Seq(idCol, "_gen"))
      } else filtered
      out.select(cols.map(col): _*)
    }
  }

  /** A walk: the entry set cut to `entryWidth`, then each hop — an
    * adjacency sub-layout and a width — cuts the beam to its width and
    * expands once; the served beam is cut to `servedWidth` before the
    * tombstone filter and the final top-k. */
  final case class WalkPlan(entryWidth: Int, hops: Seq[(String, Int)],
      servedWidth: Int)

  /** The reads of ONE walk over a layout. Every read re-resolves its
    * sub-layout through [[graft.core.Generations.readSwapSafe]] — a base
    * resolved once for the whole walk lists files that a compaction swap
    * between hops deletes — reusing the schema the sub-layout's first
    * read inferred, so only that first read pays a schema-inference job. [[vectorsReplaced]] re-lists
    * `vectors` and reports whether a file the first read listed is gone:
    * appends only add files, so a lost file means a compaction or rewrite
    * replaced the vectors during the walk, and a beam scored before it
    * may hold rows the new layout dropped. */
  final class HopReader(spark: SparkSession, path: String, maxGen: Int,
      buckets: Int) {
    private val first = scala.collection.mutable.Map.empty[String,
      (org.apache.spark.sql.types.StructType, Set[String])]

    private def resolve(sub: String): DataFrame = first.get(sub) match {
      case None =>
        val raw = graft.core.Generations.readSwapSafe(spark, s"$path/$sub")
        first(sub) = (raw.schema, raw.inputFiles.toSet)
        raw
      case Some((schema, _)) =>
        graft.core.Generations.readSwapSafeAs(spark, s"$path/$sub",
          spark.read.schema(schema).parquet(_))
    }

    def pruned(sub: String, idCol: String, ids: Array[Long],
        cols: Seq[String]): DataFrame =
      pruneIds(committed(resolve(sub), maxGen), idCol, ids, buckets, cols,
        maxGen)

    def vectorsReplaced: Boolean =
      !first("vectors")._2.subsetOf(resolve("vectors").inputFiles.toSet)
  }
}

/** The serving operations of the two GRAPH families, each with ONE body
  * over the one [[GraphLayout]]: the disk walk ([[queryFromDisk]]), the
  * live-vector reads behind [[queryExhaustiveFromDisk]] and
  * [[queryFilteredFromDisk]], [[queryThresholdFromDisk]], the tombstone
  * [[deleteFromDisk]], the compaction fold ([[doCompactServing]]), the
  * fresh write ([[writeLayout]]), the rebuild, the maintenance counters
  * and the doctor. A family supplies only what really differs: its
  * sidecar (file, required fields, field checks), its adjacency
  * sub-layout names, its walk plan and entry ranking, and its scoring
  * kernel. */
trait GraphServing extends DiskServing { self: IndexStrategy =>
  import org.apache.spark.sql.functions._
  import com.fasterxml.jackson.databind.JsonNode

  /** the family's sidecar file at the layout root */
  protected def metaFile: String
  /** the sidecar fields the layout doctor requires */
  protected def metaFields: Seq[String]
  /** the sidecar, read and field-checked the family's way */
  protected def readMeta(path: String): JsonNode
  /** the adjacency sub-layouts of an `nLayers` layout, layer 0 first */
  protected def adjacencySubs(nLayers: Int): Seq[String]
  /** the walk the sidecar's (writer's) configuration describes */
  protected def walkPlan(meta: JsonNode): GraphLayout.WalkPlan
  /** the entry-set hash rank: entries are the lowest (rank, id) ids */
  protected def entryRank: Long => Long
  /** the scoring kernel: query normalization and the candidate join */
  protected def walkKernel: NnDescentStrategy
  /** an untrained instance of the same configuration, for the rebuild */
  protected def untrained: IndexStrategy with DiskServing

  private def nLayers(meta: JsonNode): Int =
    Option(meta.get("n_layers")).map(_.asInt()).getOrElse(1)

  /** Fresh write of the whole layout: vectors and every adjacency
    * sub-layout (staged + swapped when the path exists), then the
    * sidecar, the tombstone-counter reset, and the claims clear — a
    * REWRITE resets both counters while swapping only the sub-layouts,
    * so stale claims must go with them. `metaJson` is evaluated after
    * the data writes. */
  protected def writeLayout(prepared: DataFrame, path: String,
      buckets: Int, adjacency: Seq[DataFrame], metaJson: => String): Unit = {
    GraphLayout.writeFresh(prepared, "id", s"$path/vectors", buckets)
    adjacencySubs(adjacency.length).zip(adjacency).foreach { case (sub, g) =>
      GraphLayout.writeFresh(g.select("src", "dst"), "src", s"$path/$sub",
        buckets)
    }
    graft.core.FsIO.write(s"$path/$metaFile", metaJson)
    GraphLayout.writeTombstoneGens(path, 0) // fresh layout: no tombstones
    graft.core.Generations.clearClaims(prepared.sparkSession, path)
  }

  /** The walk served DIRECTLY from the layout, with no resident graph:
    * stage for stage the in-memory walk, except every adjacency/vector
    * access is a partition-pruned, filter-pushed read of exactly the
    * frontier's rows. The walk's state between hops is DRIVER-RESIDENT
    * (r20, guide §2.6/§5): the beam is ≤ width × batch rows and its ids
    * are pulled per hop anyway to build the IN-list prune, so each hop
    * is two jobs (the adjacency pull and the scored top-width), with
    * distances round-tripping as exact binary doubles — candidates,
    * scores and tie-breaks are identical to the in-memory walk
    * (spec-asserted). Tombstoned nodes still ROUTE (hnswlib's
    * mark-deleted semantics: removing a hub would tear connectivity)
    * but never serve; the width-wide served beam absorbs the filter.
    * A compaction or rewrite that replaces the vectors during the walk
    * restarts it once on the new layout, so a result never mixes a beam
    * scored before the swap with the layout after it. */
  override def queryFromDisk(spark: SparkSession, path: String,
      queries: DataFrame, k: Int): DataFrame =
    walkFromDisk(spark, path, queries, k)

  /** [[queryFromDisk]] with a test-only hook run before every hop */
  private[graft] def walkFromDisk(spark: SparkSession, path: String,
      queries: DataFrame, k: Int,
      beforeHop: () => Unit = () => ()): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val kn = walkKernel
    val q = kn.walkQueries(queries)
    import spark.implicits._
    type Beam = Array[(Long, Long, Double)]
    def topK(scored: DataFrame, width: Int): Beam =
      TopK.topKPerGroup(scored, Seq("query_id"), "id", "dist", width)
        .select("query_id", "id", "dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def frame(rows: Beam): DataFrame = rows.toSeq.toDF("query_id", "id", "dist")
    // a per-query (dist, id) re-cut, driver-side
    def cut(rows: Beam, width: Int): Beam =
      rows.groupBy(_._1).values.flatMap(g =>
        g.sortBy(t => (t._3, t._2)).take(width)).toArray
    def attempt(): Option[DataFrame] = {
      val meta = readMeta(path)
      val plan = walkPlan(meta)
      val read = new GraphLayout.HopReader(spark, path,
        GraphLayout.committedGens(meta), meta.get("buckets").asInt())
      def score(cands: DataFrame, ids: Array[Long]): DataFrame =
        kn.scoreCandidates(read.pruned("vectors", "id", ids,
          Seq("id", "vector")), q, cands)
      def hop(wide: Beam, sub: String, width: Int): Beam = {
        val beam = cut(wide, width)
        val adj = read.pruned(sub, "src", beam.map(_._2).distinct,
            Seq("src", "dst"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        // dedup the frontier against the beam driver-side: a pair already
        // in the beam would rescore to the identical distance, so dropping
        // it here spares the hop a per-pair min-aggregate shuffle
        val beamKeys = beam.map(t => (t._1, t._2)).toSet
        val frontier = beam.flatMap { case (qid, id, _) =>
          adj.getOrElse(id, Array.empty[(Long, Long)])
            .map { case (_, dst) => (qid, dst) }
        }.distinct.filterNot(beamKeys)
        topK(frame(beam).unionByName(score(frontier.toSeq.toDF("query_id",
          "id"), frontier.map(_._2).distinct)), width)
      }
      val entries = GraphLayout.entries(meta)
      val seeded = topK(score(entries.toSeq.toDF("id")
        .crossJoin(q.select("query_id")), entries), plan.entryWidth)
      val beam = plan.hops.foldLeft(seeded) { case (b, (sub, width)) =>
        beforeHop(); hop(b, sub, width)
      }
      val served = frame(cut(beam, plan.servedWidth))
      // tombstones resolve BEFORE the swap check: a compaction that
      // spends them after this point replaced the vectors too, and the
      // check below sees it
      val tomb = GraphLayout.tombstoneFrame(spark, path)
      if (read.vectorsReplaced) None
      else Some(TopK.topKPerGroup(
        tomb.fold(served)(t => served.join(t, Seq("id"), "left_anti")),
        Seq("query_id"), "id", "dist", k))
    }
    attempt().orElse(attempt()).getOrElse(throw new IllegalStateException(
      s"the graph layout at $path was replaced twice during one walk " +
        "(compaction or rewrite); re-run the query"))
  }

  /** the layout's LIVE vector rows: committed generations minus
    * tombstones — exact semantics (a deleted row is GONE here, unlike
    * the walk, where it still routes until compaction) */
  protected def liveVectors(spark: SparkSession, path: String): DataFrame = {
    val vecs = GraphLayout.committed(graft.core.Generations.readSwapSafe(
      spark, s"$path/vectors"), GraphLayout.committedGens(readMeta(path)))
    GraphLayout.tombstoneFrame(spark, path)
      .fold(vecs)(t => vecs.join(t, Seq("id"), "left_anti"))
  }

  private def exactTopK(vecs: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // not Knn.blockedTopK: it scores through the family's own walk kernel
    val q = walkKernel.walkQueries(queries)
    val v = vecs.select("id", "vector")
    TopK.topKPerGroup(walkKernel.scoreCandidates(v, q,
        v.select("id").crossJoin(q.select("query_id"))),
      Seq("query_id"), "id", "dist", k)
  }

  /** EXACT mode over the layout — the in-memory `queryExhaustive`'s
    * full-seed identity (every live vector scored through the same
    * kernel, tie-break and rank plumbing): the family's oracle anchor
    * THROUGH the layout. The adjacency round trip is pinned by the
    * disk ≡ memory walk-equality specs (a diverged edge would divert
    * the walk). */
  def queryExhaustiveFromDisk(spark: SparkSession, path: String,
      queries: DataFrame, k: Int): DataFrame =
    exactTopK(liveVectors(spark, path), queries, k)

  /** Filtered search with PRE-filter semantics: the exact top-k of the
    * surviving subset. The graph is deliberately bypassed (an arbitrary
    * predicate can disconnect any graph, and a walk cannot guarantee k
    * survivors), so this is one filter-pushed, column-pruned scan of the
    * live vectors — metadata rides in the vectors layout, so simple
    * predicates reach the parquet reader as PushedFilters. */
  override def supportsDiskFiltered: Boolean = true
  override def queryFilteredFromDisk(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, predicate: Column): DataFrame =
    exactTopK(liveVectors(spark, path).where(predicate), queries, k)

  /** ANN threshold semantics (hnsw.py:107-114, pynndescent.py:85-93):
    * top-max_k, then the strict `<` mask */
  def queryThreshold(prepared: DataFrame, queries: DataFrame,
      threshold: Double, maxK: Int): DataFrame =
    if (maxK <= 0) IndexStrategy.emptyThreshold(queries)
    else self.query(prepared, queries, maxK)
      .where(col("dist") < threshold).drop("rank")

  /** the same mask over the [[queryFromDisk]] walk — disk ≡ memory
    * decision for decision by construction (r15) */
  override def supportsDiskThreshold: Boolean = true
  override def queryThresholdFromDisk(spark: SparkSession, path: String,
      queries: DataFrame, threshold: Double, maxK: Int): DataFrame =
    if (maxK <= 0) IndexStrategy.emptyThreshold(queries)
    else queryFromDisk(spark, path, queries, maxK)
      .where(col("dist") < threshold).drop("rank")

  /** Tombstone DELETE: deleted ids land as one bucketed tombstone
    * generation — no data rewrite, no graph surgery. Until compaction
    * the nodes still ROUTE but are excluded from every served result;
    * compaction then drops their vectors, their adjacency rows and the
    * edges pointing at them. The existence check is partition-pruned to
    * the candidates' buckets — I/O proportional to the delete batch.
    * `rows` needs only `id`, of any integral type. Returns the number
    * of live rows newly tombstoned. */
  override def supportsDiskDelete: Boolean = true
  override def deleteFromDisk(spark: SparkSession, path: String,
      rows: DataFrame, tag: String): Long = {
    val meta = readMeta(path)
    require(meta.get("generations") != null,
      s"index at $path predates the generation layout")
    val buckets = meta.get("buckets").asInt()
    // claim the TOMBSTONE slot before reading the prior tombstone state
    // (r17 — the delete-side twin of the append claims: two concurrent
    // deleters would both write tombstones `_gen=T` and dynamic-
    // overwrite each other, resurrecting deleted rows). Same-tag replay
    // reclaims; a foreign in-flight claim fails loudly.
    val tGens = graft.core.Generations.claimAppendGeneration(spark, path,
      tag, () => GraphLayout.tombstoneGens(path), slot = "tomb")
    try {
      // verify against LIVE rows only, pruned to the candidates' buckets.
      // BOTH counters are re-read AFTER the claim (advice r17): the
      // tombstone frame so it covers everything committed up to the
      // claimed slot, and the append-generation count so rows a
      // concurrent appender committed since this method's entry are
      // seen as existing
      val candIds = rows.select(col("id").cast("long").as("id")).distinct()
        .collect().map(_.getLong(0))
      val existing = GraphLayout.prunedRead(spark, path, "vectors", "id",
        candIds, buckets, Seq("id"),
        GraphLayout.committedGens(readMeta(path)))
      val fresh = GraphLayout.tombstoneFrame(spark, path).fold(existing)(t =>
        existing.join(t, Seq("id"), "left_anti")).cache()
      val n = fresh.count()
      if (n > 0) {
        // at tGens == 0 any existing tombstones/ dir is an invisible
        // leftover from a compaction that crashed between its sidecar
        // commit and its directory delete — clear it FIRST: the
        // generation write's dynamic partition overwrite would otherwise
        // keep the leftover's stale partitions, and the counter bump
        // would make every reader see those SPENT tombstones again,
        // silently hiding any id re-inserted since the compaction
        if (tGens == 0) GraphLayout.dropTombstones(spark, path)
        GraphLayout.writeGeneration(fresh, "id", s"$path/tombstones",
          buckets, tGens)
        // the commit touches ONLY the tombstone counter's own sidecar
        // (advice r17): rewriting the shared graph meta here could
        // revert a generation count an appender committed concurrently
        GraphLayout.writeTombstoneGens(path, tGens + 1)
      } else {
        // a no-op delete must not leave an unresolved claim behind
        graft.core.Generations.releaseClaim(spark, path, tGens, tag,
          slot = "tomb")
      }
      fresh.unpersist()
      n
    } catch {
      case e: Throwable =>
        graft.core.Generations.releaseClaim(spark, path, tGens, tag,
          slot = "tomb")
        throw e
    }
  }

  /** Fold the layout back to a single tombstone-free `_gen=0` state.
    * Vectors union (append-only ids) and adjacency latest-per-src, each
    * staged and swapped (the staging write finishes reading the live
    * files before the swap, so rewrite-from-own-read is safe; a crash
    * before a swap leaves the live layout untouched). Tombstoned nodes
    * leave PHYSICALLY: their vectors, their adjacency rows, and the
    * edges POINTING at them (a dangling dst is harmless to the walk but
    * wasted frontier I/O forever). Layer 0 always folds — it takes the
    * insert deltas; upper layers only when tombstones must leave them.
    * The sidecar keeps its walk configuration; the generation count
    * resets, and dead entry nodes leave the entry list — re-seeded by
    * the family's entry rank over the highest non-empty upper layer's
    * survivors, else the surviving vectors, when every entry died
    * (advice r15: an empty list would serve nothing forever). */
  override def supportsCompaction: Boolean = true
  override protected def doCompactServing(spark: SparkSession,
      path: String): Unit = {
    val meta = readMeta(path)
    require(meta.get("generations") != null,
      s"index at $path predates the generation layout")
    val gens = meta.get("generations").asInt()
    val tomb = GraphLayout.tombstoneFrame(spark, path)
    if (gens <= 1 && tomb.isEmpty) return // already compact
    val buckets = meta.get("buckets").asInt()
    def dropDead(rows: DataFrame, idCol: String): DataFrame =
      tomb.fold(rows)(t => rows.join(t.withColumnRenamed("id", idCol),
        Seq(idCol), "left_anti"))
    def fold(sub: String, idCol: String, stripDst: Boolean): Unit = {
      val rows = spark.read.parquet(s"$path/$sub").where(col("_gen") < gens)
      val latest = rows.groupBy(idCol).agg(max("_gen").as("_gen"))
      val live = dropDead(rows.join(latest, Seq(idCol, "_gen"))
        .drop("_gen", "_nb"), idCol)
      val state = if (stripDst) dropDead(live, "dst") else live
      graft.core.Generations.writeStaged(spark, s"$path/$sub",
        "__compacting")(dir =>
        GraphLayout.writeGeneration(state, idCol, dir, buckets, gen = 0))
    }
    fold("vectors", "id", stripDst = false)
    val adj = adjacencySubs(nLayers(meta))
    fold(adj.head, "src", stripDst = true)
    if (tomb.nonEmpty) adj.tail.foreach(fold(_, "src", stripDst = true))
    val root = meta.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("generations", 1)
    if (tomb.nonEmpty) {
      val entryArr = GraphLayout.entries(meta)
      // bounded pull: only tombstones hitting the entry list come back,
      // never the whole delete history
      val dead = tomb.get
        .where(col("id").isin(entryArr.map(java.lang.Long.valueOf).toSeq: _*))
        .collect().map(_.getLong(0)).toSet
      val kept = entryArr.filterNot(dead)
      // the folded sub-layouts were just written, so these reads see
      // exactly the survivors; a store with NO survivors keeps the
      // honest empty entry list
      val reseeded = if (kept.nonEmpty) kept else {
        val rank = udf(entryRank)
        val pools = adj.tail.reverseIterator.map(sub =>
            spark.read.parquet(s"$path/$sub").select(col("src").as("id"))
              .distinct()) ++
          Iterator(spark.read.parquet(s"$path/vectors").select("id"))
        pools.find(p => !p.isEmpty).fold(Array.empty[Long])(
          _.withColumn("_h", rank(col("id"))).orderBy(col("_h"), col("id"))
            .limit(math.max(entryArr.length, 1)).collect().map(_.getLong(0)))
      }
      val arr = root.putArray("entries")
      reseeded.foreach(arr.add)
    }
    // sidecars commit BEFORE the tombstones dir is deleted (advice r12):
    // at tombstone_generations=0 an orphaned tombstones/ dir is invisible
    // to every reader, so a crash in this window leaves a servable layout
    // — the reverse order left a sidecar pointing at a missing directory.
    // Counter order: the tombstone reset lands FIRST — between the two
    // writes a reader sees folded data with no tombstones (correct: the
    // fold already dropped the rows) and a crash there re-runs the fold
    // idempotently. The leftover tombstones dir is NOT writable-over:
    // [[deleteFromDisk]] clears it before writing a fresh generation 0.
    if (tomb.nonEmpty) GraphLayout.writeTombstoneGens(path, 0)
    graft.core.FsIO.write(s"$path/$metaFile",
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(root))
    // the spent tombstones dir leaves BEFORE the ledger clears (review
    // r18): clearClaims also sweeps the maintenance marker, reopening
    // the layout to writers, and a delete entering between an early
    // sweep and this directory delete would write a fresh tombstone
    // generation this trailing delete then wipes
    if (tomb.nonEmpty) GraphLayout.dropTombstones(spark, path)
    // the count resets (gen AND tomb slots): spent claims must not
    // outlive them, or the first post-compact append/delete slot would
    // read as foreign-claimed forever
    graft.core.Generations.clearClaims(spark, path)
  }

  /** Relearn the graph from the LIVE rows (committed generations minus
    * tombstones) and swap the fresh layout in: tombstoned nodes stop
    * routing AND the survivors' neighborhoods are relearned — append
    * deltas learned their edges against the store AS OF their insert, so
    * a long mutation history erodes recall, which compaction never
    * repairs. */
  override def supportsRebuild: Boolean = true
  override protected def doRebuildServing(spark: SparkSession,
      path: String): DiskServing.Rebuilt = {
    // the layout's own partition columns drop: the returned frames are
    // the caller's in-memory state. localCheckpoint, not cache: the
    // rewrite below replaces this frame's source files
    // ([[IvfStrategy.rebuildCells]] argument)
    val rows = liveVectors(spark, path).drop("_gen", "_nb").localCheckpoint()
    val fresh = untrained
    val prepared = fresh.prepare(rows)
    fresh.writeServingIndex(prepared, path)
    DiskServing.Rebuilt(fresh, rows, prepared)
  }

  /** the maintenance fence's committed counters ([[DiskServing]]) */
  override def committedCounts(spark: SparkSession,
      path: String): Map[String, Int] = Map(
    "gen" -> graft.core.Generations.sidecarCount(s"$path/$metaFile",
      "generations"),
    "tomb" -> GraphLayout.tombstoneGens(path))

  override def fsckServing(spark: SparkSession, path: String): DataFrame =
    ServingFsck.graphLayout(spark, path, metaFile, metaFields,
      adjacencySubs)
}
