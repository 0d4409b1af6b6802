package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared checks for the serving-layout doctor
  * ([[DiskServing.fsckServing]]): every crash-window discipline the
  * writers argue in comments — orphan generations are invisible and get
  * swept, staged/retired directories are hidden from partition
  * discovery, sidecars commit last, appends never duplicate ids — is a
  * layout INVARIANT, and this module verifies each one against an
  * actual directory tree instead of trusting the argument. The doctor
  * REPORTS, it never repairs and never throws on a recognized layout:
  * repairs are the mutation paths' own job (the next append sweeps its
  * orphan, the next delete sweeps retired dirs), and a monitoring tier
  * wants rows, not exceptions.
  *
  * Row schema: (component, check, status, observed) where `status` is
  *  - `ok`    — the invariant holds;
  *  - `warn`  — a benign crash leftover (invisible to every reader by
  *              the writers' own discipline; swept by the next mutation
  *              of the same sub-layout). A deployment alerts on
  *              persistent warns (a crash happened; nothing swept it);
  *  - `fail`  — a broken invariant a reader would trip on (missing or
  *              unrecognized sidecar, duplicate ids, a dead entry set).
  * `observed` is the measured count (1/0 for presence checks), so a
  * monitoring query can trend it without parsing strings.
  */
private[graft] object ServingFsck {

  final case class Check(component: String, check: String, status: String,
      observed: Long)

  val Ok = "ok"
  val Warn = "warn"
  val Fail = "fail"

  def toDf(spark: SparkSession, checks: Seq[Check]): DataFrame = {
    import spark.implicits._
    checks.map(c => (c.component, c.check, c.status, c.observed))
      .toDF("component", "check", "status", "observed")
      .orderBy("component", "check")
  }

  private def hfs(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** sidecar present + parses + carries every field its readers adopt —
    * the commit point of every write/append/compact, so a missing or
    * truncated one means an interrupted FIRST write (re-run it); a
    * missing FIELD means a foreign or hand-edited file */
  def sidecar(spark: SparkSession, file: String, fields: Seq[String],
      component: String = "sidecar"): Seq[Check] = {
    if (!graft.core.FsIO.exists(file))
      return Seq(Check(component, "present", Fail, 0L),
        Check(component, "fields", Fail, 0L))
    val parsed =
      try Some(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(graft.core.FsIO.read(file)))
      catch { case _: Exception => None }
    val good = parsed.exists(m => fields.forall(m.get(_) != null))
    Seq(Check(component, "present", Ok, 1L),
      Check(component, "fields", if (good) Ok else Fail,
        parsed.map(m => fields.count(m.get(_) != null).toLong)
          .getOrElse(0L)))
  }

  /** generation accounting of one `_gen=N`-nested sub-layout: any
    * directory at or above the sidecar's committed count is a crashed
    * append's orphan — invisible to every reader (`_gen <` committed)
    * and cleared by the next append at that slot
    * ([[VectorBuckets.writeGeneration]]), so `warn`, not `fail`.
    * Committed directories may legitimately be missing (a delete that
    * emptied a whole generation removes its partitions), so only the
    * present count is reported, never compared. */
  def generations(spark: SparkSession, sub: String, committed: Int,
      component: String): Seq[Check] = {
    val (fs, p) = hfs(spark, sub)
    // digit-gated before toInt: a foreign `_gen=x` name must surface as
    // a reader problem elsewhere, not crash the doctor (never-throw
    // contract on recognized layouts)
    val gens: Seq[Int] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath.getName).toSeq
        .filter(n => n.startsWith("_gen=") &&
          n.stripPrefix("_gen=").nonEmpty &&
          n.stripPrefix("_gen=").forall(_.isDigit))
        .map(_.stripPrefix("_gen=").toInt)
    val orphans = gens.count(_ >= committed)
    Seq(
      Check(component, "committed_generations", Ok,
        gens.count(_ < committed).toLong),
      Check(component, "orphan_generations",
        if (orphans == 0) Ok else Warn, orphans.toLong))
  }

  /** crash-window leftovers anywhere under the layout root: staging
    * dirs a swap never promoted (`__staging`, and the graph fold's
    * in-root `<sub>__compacting`), retired dirs a swap
    * never deleted (`__old`), and the partition rewrites' dot-hidden
    * temp/retired dirs (`.old_*`, `.*.tmp`), and Spark's own `_temporary`
    * output directories — the most common artifact of an in-place first
    * write or dynamic-partition-overwrite append that died mid-job
    * (advice r16: a crashed append that never materialized its `_gen=N`
    * partition leaves `_temporary` as the ONLY evidence). All are
    * invisible to readers by construction (hidden from partition
    * discovery, or never pointed at by a sidecar) and swept by the next
    * mutation of the same sub-layout — so their presence is `warn`:
    * evidence of a crash, not of damage. Counted without descending
    * inside them. */
  def crashLeftovers(spark: SparkSession, root: String): Seq[Check] = {
    val (fs, p) = hfs(spark, root)
    def isLeftover(name: String): Boolean =
      name.endsWith("__staging") || name.endsWith("__old") ||
        name.endsWith("__compacting") ||
        name.startsWith(".old_") || name == "_temporary" ||
        (name.startsWith(".") && name.endsWith(".tmp"))
    def walk(dir: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(dir).map { st =>
        if (!st.isDirectory) 0L
        else if (isLeftover(st.getPath.getName)) 1L
        else walk(st.getPath)
      }.sum
    // whole-root swaps stage at SIBLINGS of the root (`<root>__staging`,
    // `<root>__old` — [[graft.core.Generations.swapInto]] — plus the
    // snapshot stores' `<root>__compacting` and the streaming index
    // rewrite's `<root>.compact.tmp`), so the walk inside the root never
    // meets them; probe the names directly
    val siblings = Seq("__staging", "__old", "__compacting", ".compact.tmp")
      .count(suf => fs.exists(new org.apache.hadoop.fs.Path(
        root.stripSuffix("/") + suf)))
    val n = (if (fs.exists(p)) walk(p) else 0L) + siblings
    Seq(Check("layout", "crash_leftovers", if (n == 0) Ok else Warn, n))
  }

  /** Append-claim ledger accounting (verdict r16 #1 — the multi-writer
    * protocol [[graft.core.Generations.claimAppendGeneration]]): claims
    * BELOW the sidecar's committed count are SPENT — the audit trail of
    * past appends, swept by compaction (`ok`, count trendable). A claim
    * AT or ABOVE the committed count is UNRESOLVED: an appender in
    * flight right now, or a crashed one still holding the slot — every
    * other writer's append fails loudly until the holder commits, the
    * crashed append is replayed under its own tag, or an operator
    * breaks the claim. `warn`, not `fail`: readers are unaffected
    * either way (the slot's data, if any, is an invisible orphan). */
  def claims(spark: SparkSession, root: String, committed: Int,
      slot: String = "gen", component: String = "claims"): Seq[Check] = {
    val cs = graft.core.Generations.listClaims(spark, root, slot)
    val unresolved = cs.count(_._1 >= committed)
    // the maintenance marker rides with the DEFAULT slot's rows so each
    // family's doctor reports it exactly once: present = a compaction/
    // rebuild in flight right now, or a crashed one still fencing out
    // writers (verdict r17 #2) — `warn` either way, an operator alerts
    // on persistence (endMaintenance under the holder's tag clears it)
    val maint =
      if (slot != "gen") Seq.empty
      else {
        val holder = graft.core.Generations.maintenanceHolder(spark, root)
        Seq(Check(component, "maintenance_marker",
          if (holder.isEmpty) Ok else Warn, holder.size.toLong))
      }
    Seq(
      Check(component, "spent", Ok, cs.count(_._1 < committed).toLong),
      Check(component, "unresolved",
        if (unresolved == 0) Ok else Warn, unresolved.toLong)) ++ maint
  }

  /** no id appears twice in the frame — the append guards' invariant
    * (a violated one would double-count a row in every scan family) */
  def duplicateIds(rows: DataFrame, component: String): Check = {
    val d = rows.select(col("id")).groupBy("id")
      .agg(count(lit(1)).as("_c")).where(col("_c") > 1).count()
    Check(component, "duplicate_ids", if (d == 0) Ok else Fail, d)
  }

  /** `rows` + `duplicate_ids` from ONE aggregation job (r20): the row
    * count is Σ per-id multiplicities and the duplicate count is the
    * number of ids with multiplicity > 1 — both fall out of the same
    * groupBy(id) pass, where the r19 doctors paid one full scan + shuffle
    * per check. Returns (rowsCheck, duplicateIdsCheck), values identical
    * to [[rowCount]] + [[duplicateIds]]. */
  def rowsAndDuplicates(rows: DataFrame, component: String): (Check, Check) = {
    val r = rows.select(col("id")).groupBy("id")
      .agg(count(lit(1)).as("_c"))
      .agg(coalesce(sum("_c"), lit(0L)).as("_n"),
        coalesce(sum(when(col("_c") > 1, 1L).otherwise(0L)), lit(0L)).as("_d"))
      .first()
    val (n, d) = (r.getLong(0), r.getLong(1))
    (Check(component, "rows", Ok, n),
      Check(component, "duplicate_ids", if (d == 0) Ok else Fail, d))
  }

  /** plain committed row count — trendable, and the cross-sub-layout
    * consistency checks build on it */
  def rowCount(rows: DataFrame, component: String,
      check: String = "rows"): Check =
    Check(component, check, Ok, rows.count())

  /** a derived equality between two sub-layouts (e.g. MIH rows ==
    * vectors × chunks): `observed` carries the left side so the ratio
    * is trendable even when it fails */
  def consistent(check: String, left: Long, right: Long): Check =
    Check("consistency", check, if (left == right) Ok else Fail, left)

  /** committed rows of a generation-nested sub-layout, tolerating the
    * pre-generation shape (no `_gen` column → everything is committed) —
    * the doctor's read mirrors every reader's visibility rule */
  def committedOrAll(spark: SparkSession, sub: String,
      gens: Int): DataFrame = {
    val df = spark.read.parquet(sub)
    if (df.columns.contains("_gen")) df.where(col("_gen") < gens) else df
  }

  /** the graph-shaped layouts' full check set ([[GraphLayout]]:
    * HNSW's layered graph, NN-descent's single-layer graph): sidecar,
    * generation accounting of the vectors and every adjacency
    * sub-layout, tombstone accounting (tombstoned ids must reference
    * stored ids), duplicate vector ids (vector appends are append-only
    * NEW ids; adjacency generations are latest-wins so they get no dup
    * check), and — the advice-r15 lesson as an invariant — the sidecar
    * entry set must RESOLVE: at least one entry id present in the stored
    * vectors, or every walk seeds nothing and the layout silently serves
    * empty forever. Membership is checked against the STORED rows, not
    * the live (tombstone-surviving) ones: a tombstoned entry still
    * routes until compaction (the delete paths' documented semantics),
    * so it is healthy — the dead state is an entry the walk cannot even
    * score, which is what an un-re-seeded compaction would leave. */
  def graphLayout(spark: SparkSession, path: String, metaFile: String,
      fields: Seq[String], adjacencySubs: Int => Seq[String]): DataFrame = {
    val sc = sidecar(spark, s"$path/$metaFile", fields)
    if (sc.exists(_.status == Fail))
      return toDf(spark, sc ++ crashLeftovers(spark, path))
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.core.FsIO.read(s"$path/$metaFile"))
    val gens = Option(meta.get("generations")).map(_.asInt()).getOrElse(1)
    // the tombstone counter's own sidecar (advice r17 split)
    val tGens = GraphLayout.tombstoneGens(path)
    val nLayers = Option(meta.get("n_layers")).map(_.asInt()).getOrElse(1)
    val hasTombs = tGens > 0
    val vecs0 = committedOrAll(spark, s"$path/vectors", gens).select("id")
    // with tombstones three checks consume the stored-id set; without,
    // the single fused aggregate below is the only consumer (r20) and a
    // cache would be pure overhead
    val vecs = if (hasTombs) vecs0.cache() else vecs0
    var ts: Option[DataFrame] = None
    try {
      val adjChecks = adjacencySubs(nLayers).flatMap(sub =>
        generations(spark, s"$path/$sub", gens, sub))
      val entryIds = Option(meta.get("entries")).map { arr =>
        (0 until arr.size()).map(arr.get(_).asLong())
      }.getOrElse(Seq.empty)
      // rows, duplicate ids, and entry resolvability from ONE aggregation
      // job (r20; the r19 doctor ran one scan per check): all three are
      // functions of the per-id multiplicity frame
      val isEntry = if (entryIds.isEmpty) lit(false)
        else col("id").isin(entryIds.map(java.lang.Long.valueOf): _*)
      val agg = vecs.groupBy("id").agg(count(lit(1)).as("_c"))
        .agg(coalesce(sum("_c"), lit(0L)).as("_n"),
          coalesce(sum(when(col("_c") > 1, 1L).otherwise(0L)), lit(0L))
            .as("_d"),
          coalesce(sum(when(isEntry, col("_c")).otherwise(0L)), lit(0L))
            .as("_e"))
        .first()
      val (nVec, dupIds, liveEntries) =
        (agg.getLong(0), agg.getLong(1), agg.getLong(2))
      val (tombChecks, liveCount) =
        if (!hasTombs) (Seq.empty[Check], nVec)
        else {
          val t = committedOrAll(spark, s"$path/tombstones", tGens)
            .select("id").cache()
          ts = Some(t)
          val dangling = t.join(vecs, Seq("id"), "left_anti").count()
          val liveRows = vecs.join(t, Seq("id"), "left_anti")
          (Seq(rowCount(t, "tombstones"),
            generations(spark, s"$path/tombstones", tGens,
              "tombstones").find(_.check == "orphan_generations").get,
            Check("tombstones", "reference_stored_ids",
              if (dangling == 0) Ok else Fail, dangling)), liveRows.count())
        }
      toDf(spark, sc ++
        generations(spark, s"$path/vectors", gens, "vectors") ++
        adjChecks ++ tombChecks ++
        Seq(Check("vectors", "rows", Ok, nVec),
          Check("vectors", "live_rows", Ok, liveCount),
          Check("vectors", "duplicate_ids", if (dupIds == 0) Ok else Fail,
            dupIds),
          Check("entries", "resolvable",
            if (liveEntries > 0) Ok else Fail, liveEntries)) ++
        claims(spark, path, gens) ++
        claims(spark, path, tGens, slot = "tomb",
          component = "tomb_claims") ++
        crashLeftovers(spark, path))
    } finally {
      vecs.unpersist()
      ts.foreach(_.unpersist())
    }
  }

  /** The `_batch=`-generation SNAPSHOT stores' check set
    * ([[graft.core.Generations]]: count-min / HLL / bloom / bottom-k /
    * segment-df sketches, the MinHash and BQ signature tables) — the
    * streaming state stores argue the same crash disciplines as the
    * serving layouts, so they get the same doctor. Batches are
    * self-committing (dynamic partition overwrite; replays overwrite
    * their own generation), so there is no orphan class here — instead
    * `batch_generations` is the trendable COMPACTION-PRESSURE reading
    * (reads stay correct as generations accumulate, listing/footer cost
    * grows; the family's compact folds them back to one) — zero batches
    * is Ok, not fail: an EMPTY snapshot is first-class (the day-1
    * bootstrap case [[graft.core.Generations.hasGenerations]] and the
    * signature table's empty-write both honor); the corrupt/foreign
    * case hasGenerations fails loudly on is real content OUTSIDE the
    * `_batch=` namespace, which is exactly `foreign_children` (fail —
    * generation reads would miss such content silently). `sidecar`
    * checks run when the family carries one (the signature table's
    * `_sig_meta.json`). */
  def snapshotStore(spark: SparkSession, path: String,
      sidecarFile: Option[(String, Seq[String])] = None): DataFrame = {
    val (fs, p) = hfs(spark, path)
    if (!fs.exists(p))
      return toDf(spark, Seq(Check("store", "present", Fail, 0L)))
    val kids = fs.listStatus(p).map(_.getPath.getName).toSeq
    val batches = kids.count(_.startsWith("_batch="))
    val foreign = kids.count(n => !n.startsWith("_batch=") &&
      !n.startsWith("_") && !n.startsWith("."))
    val sc = sidecarFile.toSeq.flatMap { case (file, fields) =>
      sidecar(spark, s"$path/$file", fields)
    }
    toDf(spark, sc ++ Seq(
      Check("store", "batch_generations", Ok, batches.toLong),
      Check("store", "foreign_children",
        if (foreign == 0) Ok else Fail, foreign.toLong)) ++
      crashLeftovers(spark, path))
  }

  /** The FLEET doctor (r17, verdict r16 #4): walk every layout and
    * snapshot store directly under `root` and emit ONE long frame —
    * `(layout, family, component, check, status, observed)` — the
    * monitoring scrape a deployment trends across its whole serving
    * tier, where the per-layout doctors report point-in-time. Dispatch
    * is on each child directory's OWN sidecar marker (the
    * reader-adopts-writer-config discipline at fleet level: the
    * directory says what it is; no instance registry is consulted), so
    * facade-written and strategy-written layouts are covered alike:
    *
    *  - `_ivf_serving_meta.json` → the cell families (the sidecar's
    *    `family` field routes ivf / ivf_scalar / ivfpq / ivf_binary);
    *  - `_pq_serving_meta.json` → the flat-codes families (pq / opq);
    *  - `_sq8_serving_meta.json` / `_lsh_meta.json` /
    *    `_bq_serving_meta.json` / `_graph_meta.json` /
    *    `_nn_serving_meta.json` → their owning family's doctor;
    *  - `_sig_meta.json` or `_batch=` children → the snapshot-store
    *    doctor ([[snapshotStore]]);
    *  - anything else → one loud `recognized: fail` row, never a
    *    silent skip (a foreign or half-written directory in the
    *    serving root is exactly what a fleet scrape must surface).
    *
    * Diagnosis only, never throws on a recognized root (absent root →
    * one fail row); cost is each child's own doctor — bounded listing
    * plus column-pruned accounting scans. */
  def fleet(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val (fs, p) = hfs(spark, root)
    def tag(layout: String, family: String, df: DataFrame): DataFrame =
      df.select(lit(layout).as("layout"), lit(family).as("family"),
        col("component"), col("check"), col("status"), col("observed"))
    if (!fs.exists(p))
      return tag("", "", toDf(spark, Seq(Check("root", "present", Fail, 0L))))
    val (dirs, files) = fs.listStatus(p).sortBy(_.getPath.getName)
      .partition(_.isDirectory)
    // a PLAIN FILE under the serving root is just as foreign as an
    // unrecognized directory (advice r17: the dirs-only filter silently
    // skipped it, contradicting the no-silent-skip contract above) —
    // write metadata (_SUCCESS, dotfiles) excepted
    val fileRows = files.map(_.getPath.getName)
      .filterNot(n => n == "_SUCCESS" || n.startsWith("."))
      .map(n => tag(n, "unknown",
        toDf(spark, Seq(Check("layout", "recognized", Fail, 0L)))))
    // children are independent layouts: dispatch them CONCURRENTLY (r20,
    // guide §2.6) — each child's doctor schedules its own accounting jobs
    // and the r19 sequential walk serialized every one of them. Futures
    // are awaited in sorted-name order, so the emitted frame is
    // unchanged.
    // BOUNDED dispatch pool (advice r20: the r20 shape fanned every child
    // onto the unbounded global ExecutionContext), and each task pins the
    // CALLER's session as the thread's active one so FsIO's
    // SparkSession.active resolution inside the child doctors cannot pick
    // up a different default session in multi-session applications
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, dirs.length)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val frames = try {
      dirs.map(_.getPath).map { c =>
        Future {
          SparkSession.setActiveSession(spark)
          dispatchChild(spark, c) match {
            case (family, df) => tag(c.getName, family, df)
          }
        }
      }.map(Await.result(_, Duration.Inf)) ++ fileRows
    } finally pool.shutdown()
    if (frames.isEmpty)
      tag("", "", toDf(spark, Seq(Check("root", "children", Ok, 0L))))
    else frames.reduce(_ unionByName _)
      .orderBy("layout", "component", "check")
  }

  /** one child's (family, doctor frame) — the marker-file dispatch */
  private def dispatchChild(spark: SparkSession,
      child: org.apache.hadoop.fs.Path): (String, DataFrame) = {
    val dir = child.toString
    val cos = graft.core.Metric.Cosine
    def has(f: String) = graft.core.FsIO.exists(s"$dir/$f")
    def field(f: String, k: String): Option[String] =
      try Option(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(graft.core.FsIO.read(s"$dir/$f")).get(k)).map(_.asText())
      catch { case _: Exception => None }
    if (has("_ivf_serving_meta.json")) {
      val fam = field("_ivf_serving_meta.json", "family").getOrElse("ivf")
      val strat: DiskServing = fam match {
        case "ivf_scalar" => IvfSq8Strategy(cos)
        case "ivfpq" => IvfPqStrategy(cos)
        case "ivf_binary" => IvfBqStrategy(cos)
        case _ => IvfStrategy(cos)
      }
      (fam, strat.fsckServing(spark, dir))
    } else if (has("_pq_serving_meta.json")) {
      val fam = field("_pq_serving_meta.json", "family").getOrElse("pq")
      val strat: DiskServing =
        if (fam == "opq") OpqStrategy(cos) else PqStrategy(cos)
      (fam, strat.fsckServing(spark, dir))
    } else if (has("_sq8_serving_meta.json"))
      ("sq8", Sq8Strategy(cos).fsckServing(spark, dir))
    else if (has("_lsh_meta.json"))
      ("lsh", LshStrategy(cos).fsckServing(spark, dir))
    else if (has("_bq_serving_meta.json"))
      ("bq", BqStrategy(cos).fsckServing(spark, dir))
    else if (has("_graph_meta.json"))
      ("hnsw", HnswStrategy(cos).fsckServing(spark, dir))
    else if (has("_nn_serving_meta.json"))
      ("nndescent", NnDescentStrategy(cos).fsckServing(spark, dir))
    else if (has("_sig_meta.json"))
      ("signatures", snapshotStore(spark, dir, Some(("_sig_meta.json",
        Seq("bands", "rows_per_band", "seed", "id_col", "id_type")))))
    else {
      val kids = child.getFileSystem(
        spark.sparkContext.hadoopConfiguration).listStatus(child)
        .map(_.getPath.getName)
      if (kids.exists(_.startsWith("_batch=")))
        ("snapshot", snapshotStore(spark, dir))
      else ("unknown",
        toDf(spark, Seq(Check("layout", "recognized", Fail, 0L))))
    }
  }

  /** the flat-codes layouts' full check set (PQ and SQ8 share the ONE
    * [[CodesLayout]] discipline, so they share the one doctor): sidecar
    * + family tag, generation accounting of the `vectors/` sub-layout,
    * committed rows, duplicate ids, crash leftovers */
  def codesLayout(spark: SparkSession, path: String, metaFile: String,
      fields: Seq[String], family: String): DataFrame = {
    val sc = sidecar(spark, s"$path/$metaFile", fields)
    if (sc.exists(_.status == Fail))
      return toDf(spark, sc ++ crashLeftovers(spark, path))
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.core.FsIO.read(s"$path/$metaFile"))
    val gens = meta.get("generations").asInt()
    val committed = CodesLayout.committed(spark, path, gens)
    val (rowsCk, dupCk) = rowsAndDuplicates(committed, "vectors")
    toDf(spark, sc ++
      Seq(Check("sidecar", "family_matches",
        if (meta.get("family").asText() == family) Ok else Fail,
        if (meta.get("family").asText() == family) 1L else 0L)) ++
      generations(spark, s"$path/vectors", gens, "vectors") ++
      Seq(rowsCk, dupCk) ++
      claims(spark, path, gens) ++
      crashLeftovers(spark, path))
  }
}
