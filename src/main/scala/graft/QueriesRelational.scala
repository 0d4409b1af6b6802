package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.{Q, table => t}

/** Relational data-prep operators over the TPC-H-ish testdata (SURVEY.md
  * §2.4): scans, filters, equi/semi/anti joins, aggregation, windows, set
  * ops, time-bucketed event analytics. Float outputs are rounded per the
  * determinism conventions in [[Queries]].
  */
object QueriesRelational {

  /** events with `ts_s` (exact epoch seconds) and `ts_t` (timestamp) —
    * schema-adaptive across testdata generations, see
    * [[Queries.eventsTable]]. */
  private def events(s: SparkSession, dir: String): DataFrame =
    Queries.eventsTable(s, dir)

  /** join + grouped revenue + top-n (TPC-H Q3 shape). Ranked by the rounded
    * revenue so FP summation order can't flip the cut. */
  val q3JoinTopn = Q("q3_join_topn",
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderkey
      ORDER BY revenue DESC, o_orderkey
      LIMIT 10
    """))

  /** six-table join, revenue by customer nation (TPC-H Q5 shape) */
  val q5Multijoin = Q("q5_multijoin",
    (s, dir) => {
      val region = t(s, dir, "region"); val nation = t(s, dir, "nation")
      val cust = t(s, dir, "customer"); val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem"); val supp = t(s, dir, "supplier")
      // nation/region are constant-size dimension tables at ANY scale
      // factor: broadcast explicitly. customer/supplier grow with SF, so
      // AQE decides those at runtime from actual sizes.
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(cust, orders("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
    Some("""
      SELECT n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
             count(*) AS n_items
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY n_name
      ORDER BY n_name
    """))

  /** selective filter + scalar aggregate (TPC-H Q6 shape) */
  val q6Filter = Q("q6_filter",
    (s, dir) => t(s, dir, "lineitem")
      .where(col("l_discount").between(0.02, 0.06) && col("l_quantity") < 10)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
        .as("revenue"),
        count(lit(1)).as("n_rows")),
    Some("""
      SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
             count(*) AS n_rows
      FROM lineitem
      WHERE l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 10
    """))

  /** per-group top-k via window rank (SURVEY §2.4 window/top-k) */
  val qWindowRank = Q("q_window_rank",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rn
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3
      ORDER BY o_custkey, rn
    """))

  /** running (cumulative) sum per customer over order time */
  val qWindowRunning = Q("q_window_running",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running_spend", round(sum("o_totalprice").over(w), 2))
        .select("o_custkey", "o_orderkey", "running_spend")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
      FROM orders
      ORDER BY o_custkey, o_orderkey
    """))

  /** anti join: customers with no six-figure order, counted by segment */
  val qAntiJoin = Q("q_anti_join",
    (s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").where(col("o_totalprice") > 100000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment"),
    Some("""
      SELECT c_mktsegment, count(*) AS n_customers
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 100000)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment
    """))

  /** semi join: customers with at least one big order, counted by segment */
  val qSemiJoin = Q("q_semi_join",
    (s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").where(col("o_totalprice") > 200000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment"),
    Some("""
      SELECT c_mktsegment, count(*) AS n_customers
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 200000)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment
    """))

  /** set difference: active customers minus big spenders (SURVEY §2.4 set ops) */
  val qSetOps = Q("q_setops",
    (s, dir) => {
      val orders = t(s, dir, "orders")
      orders.select(col("o_custkey"))
        .except(orders.where(col("o_totalprice") > 150000).select(col("o_custkey")))
        .orderBy("o_custkey")
    },
    Some("""
      SELECT o_custkey FROM orders
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_totalprice > 150000
      ORDER BY o_custkey
    """))

  /** Fulfillment-latency SLA report — per order priority: ship-delay
    * median and p90 (EXACT type-1 quantiles over the integer day-delay
    * histogram — the domain is bounded by the order-to-ship calendar
    * span, a few thousand day values at most, so the rank ≤-join is
    * domain² per priority, never rows²), max delay, and
    * the >30-day breach rate. Delays are epoch-day differences (exact
    * longs); quantiles are pure element selection, so every published
    * latency is integer-exact cross-engine — no mean, whose rounding the
    * engines can disagree on at half boundaries. */
  val qFulfillmentSla = Q("q_fulfillment_sla",
    (s, dir) => {
      val d = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          (floor(unix_timestamp(col("l_shipdate")) / 86400L) -
            floor(unix_timestamp(col("o_orderdate")) / 86400L))
            .cast("long").as("delay"))
      val hist = d.groupBy("priority", "delay").agg(count(lit(1)).as("c"))
      // the quantile walk AND the per-priority stats run DRIVER-SIDE over
      // the pulled histogram — the token-budget idiom: the pull is bounded
      // at priorities × day-span rows at any corpus size, while the ≤-join
      // formulation keys on the FIVE priority values only and serializes
      // the whole cumulative on five tasks (measured 9 s at sf0.1 before
      // this; the driver walk is milliseconds on ~12k rows). ONE job, no
      // cached frame left behind in executor memory (advice r11) — every
      // published stat is an exact integer fold over the same rows the
      // quantile selection walks.
      val rows = hist.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val stats = rows.groupBy(_._1).toSeq.map { case (p, rs) =>
        val sorted = rs.sortBy(_._2)
        val n = sorted.map(_._3).sum
        def q(frac: Double): Long = {
          val idx = math.floor(frac * (n - 1)).toLong + 1
          var cum = 0L
          sorted.find { case (_, _, c) => cum += c; cum >= idx }.get._2
        }
        val breach = rs.collect { case (_, delay, c) if delay > 30 => c }.sum
        (p, n, q(0.5), q(0.9), sorted.last._2, breach)
      }
      import s.implicits._
      stats.toDF("priority", "n", "median_days", "p90_days", "max_delay",
          "_breach")
        .select(col("priority"), col("n"), col("median_days"),
          col("p90_days"), col("max_delay"),
          round(col("_breach") / col("n").cast("double"), 6)
            .as("breach_rate"))
        .orderBy("priority")
    },
    Some("""
      WITH d AS (
        SELECT o_orderpriority AS priority,
               CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT) -
               CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS delay
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      hist AS (
        SELECT priority, delay, count(*) AS c FROM d GROUP BY 1, 2),
      cum AS (
        SELECT a.priority, a.delay, CAST(sum(b.c) AS BIGINT) AS cle
        FROM hist a JOIN hist b
          ON a.priority = b.priority AND b.delay <= a.delay
        GROUP BY 1, 2),
      stats AS (
        SELECT priority, CAST(sum(c) AS BIGINT) AS n, max(delay) AS max_delay,
               CAST(coalesce(sum(c) FILTER (WHERE delay > 30), 0) AS BIGINT)
                 AS breach
        FROM hist GROUP BY priority)
      SELECT s.priority, s.n,
             min(c.delay) FILTER (WHERE c.cle >= floor(0.5 * (s.n - 1)) + 1)
               AS median_days,
             min(c.delay) FILTER (WHERE c.cle >= floor(0.9 * (s.n - 1)) + 1)
               AS p90_days,
             s.max_delay,
             round(s.breach / CAST(s.n AS DOUBLE), 6) AS breach_rate
      FROM cum c JOIN stats s USING (priority)
      GROUP BY s.priority, s.n, s.max_delay, s.breach
      ORDER BY s.priority
    """))

  /** Market-basket co-purchase pairs — association mining over orders
    * (the PMI cousin on baskets): part pairs appearing together in >= 3
    * orders, with lift = P(ab)/(P(a)·P(b)) = n·N/(nₐ·n_b) from exact
    * distinct-order counts. SET semantics first (distinct (order, part) —
    * an order can hold the same part on several lines), then the pair
    * join is order-keyed: pairs per order = lines², bounded by basket
    * size, never parts². Support threshold before the lift join keeps
    * the part-count joins candidate-sized. */
  /** Market-basket pair mining over a distinct `(ok, pk)` basket-lines
    * frame, with the mega-basket guard (verdict r11 #4): pairs-per-order
    * = lines², bounded by basket size on TPC-H (≤7) but unbounded on a
    * pathological million-line cart — the same hazard class the MinHash
    * hot-bucket star-link caps ([[graft.prep.Dedup.minhashCandidates]]).
    * Baskets with more than `maxBasket` distinct items are excluded from
    * the analysis ENTIRELY (pairs, item support, and the order universe),
    * keeping the lift statistics self-consistent over the non-degenerate
    * sub-corpus — a degenerate cart's co-occurrences are support noise,
    * not signal. On a corpus with no over-cap basket the output is
    * IDENTICAL to the unbounded form (spec-asserted both ways); per-order
    * work is bounded at maxBasket². Excluded orders are observable via
    * [[overCapBaskets]] — log it before large runs. */
  private[graft] def basketPairs(basketLines: DataFrame,
      minSupport: Long = 3L, maxBasket: Int = 1000): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
    // the size gate is a count window PARTITIONED by order, not a
    // groupBy + semi-join: one shuffle on ok that the pair self-join
    // below then reuses (same key), instead of two extra stages —
    // measured 3.4 s vs 2.1 s at sf0.1 for the join formulation
    val w = Window.partitionBy("ok")
    // materialize the gated basket-lines frame ONCE (r20): four
    // consumers read it (order universe, per-item support, both pair-join
    // sides) and AQE does not reuse the distinct+window exchanges across
    // the self-join's aliased branches — un-materialized, the scan +
    // distinct + window ran four times (measured ~4× task time at
    // sf0.1). Lazy localCheckpoint = computed inside the query's own
    // action, RDD blocks reclaimed by the ContextCleaner (the
    // ngramJaccardJoin discipline).
    val li = basketLines
      .withColumn("_bs", count(lit(1)).over(w))
      .where(col("_bs") <= maxBasket).drop("_bs")
      .localCheckpoint(false)
    // the order-universe size rides as a broadcast 1-row frame (r20): the
    // r19 `val n = li.distinct().count()` ran a full eager scan+shuffle
    // at CONSTRUCTION time, then the action recomputed li from scratch —
    // one extra pass over the input per invocation. `n * N` stays
    // long·long and `/` long→double exactly as with the literal.
    val nFrame = li.select("ok").distinct().agg(count(lit(1)).as("_N"))
    val per = li.groupBy("pk").agg(count(lit(1)).as("np"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minSupport)
    pairs
      .join(per.select(col("pk").as("p1"), col("np").as("_na")), Seq("p1"))
      .join(per.select(col("pk").as("p2"), col("np").as("_nb")), Seq("p2"))
      .crossJoin(broadcast(nFrame))
      .select(col("p1"), col("p2"), col("n"),
        round(col("n") * col("_N") / (col("_na") * col("_nb")), 6).as("lift"))
      .orderBy(desc("n"), col("p1"), col("p2"))
  }

  /** The monitoring hook for [[basketPairs]]'s cap: `(ok, basket_size)`
    * of every excluded order, the analogue of the MinHash family's
    * `overCapBuckets`. */
  private[graft] def overCapBaskets(basketLines: DataFrame,
      maxBasket: Int): DataFrame =
    basketLines.groupBy("ok").agg(count(lit(1)).as("basket_size"))
      .where(col("basket_size") > maxBasket)

  val qBasketPairs = Q("q_basket_pairs",
    (s, dir) => basketPairs(
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()),
    Some("""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      n AS (SELECT count(DISTINCT ok) AS n FROM li),
      per AS (SELECT pk, count(*) AS np FROM li GROUP BY pk),
      pairs AS (
        SELECT a.pk AS p1, b.pk AS p2, count(*) AS n
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
        HAVING count(*) >= 3)
      SELECT p.p1, p.p2, p.n,
             round(p.n * n.n / CAST(pa.np * pb.np AS DOUBLE), 6) AS lift
      FROM pairs p
      JOIN per pa ON pa.pk = p.p1
      JOIN per pb ON pb.pk = p.p2
      CROSS JOIN n
      ORDER BY p.n DESC, p.p1, p.p2
    """))

  /** Column profile — the data-quality profiling pass (the Deequ/
    * dbt-style artifact) every ingest runs before trusting a table: per
    * column, null count, exact distinct count, and min/max rendered as
    * strings so one long frame carries heterogeneous column types. One
    * scan; the distincts are the standard two-phase exact count. */
  val qDataProfile = Q("q_data_profile",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_orderkey", "l_quantity", "l_discount", "l_returnflag")
      cols.map { c =>
        li.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_value"),
          max(col(c)).cast("string").as("max_value"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
            col("n_distinct"), col("min_value"), col("max_value"))
      }.reduce(_ unionByName _).orderBy("col_name")
    },
    Some("""
      SELECT * FROM (
        SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
               CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) AS n_null,
               count(DISTINCT l_orderkey) AS n_distinct,
               CAST(min(l_orderkey) AS VARCHAR) AS min_value,
               CAST(max(l_orderkey) AS VARCHAR) AS max_value
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity', count(*),
               CAST(count(*) FILTER (WHERE l_quantity IS NULL) AS BIGINT),
               count(DISTINCT l_quantity),
               CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', count(*),
               CAST(count(*) FILTER (WHERE l_discount IS NULL) AS BIGINT),
               count(DISTINCT l_discount),
               CAST(min(l_discount) AS VARCHAR), CAST(max(l_discount) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_returnflag', count(*),
               CAST(count(*) FILTER (WHERE l_returnflag IS NULL) AS BIGINT),
               count(DISTINCT l_returnflag),
               CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
        FROM lineitem)
      ORDER BY col_name
    """))

  /** [[qDataProfile]]'s scale path (verdict r11 #7): the exact
    * `countDistinct` per column is the one profiling stat that pays a
    * full distinct shuffle PER COLUMN at 100 TB; here the distinct counts
    * come from ONE bounded HyperLogLog register aggregate instead. The
    * four columns melt into a single `(col_name, v)` stream (one scan,
    * `stack`), registers key on (col_name, bucket) — ≤ 64·|columns| rows
    * total at any corpus size ([[graft.prep.HyperLogLog.registersBy]]) —
    * and the estimate is replayed EXACTLY by the DuckDB oracle (exact
    * BIGINT register sum, one IEEE division). The exact distinct rides
    * alongside as the anchor + error band, same stance as q_hll_distinct:
    * at 100 TB the exact column disappears and the register table IS the
    * profile state (and it merges across ingest snapshots by register
    * max, which a per-column exact count cannot). */
  val qDataProfileSketch = Q("q_data_profile_sketch",
    (s, dir) => {
      import graft.prep.HyperLogLog
      val cols = Seq("l_orderkey", "l_quantity", "l_discount", "l_returnflag")
      // widen (r20): the 11 MB single-row-group local file scans as ~3
      // partitions, so the 4×-amplified melt + register hashing ran
      // near-serial; every aggregate here is order-free (long counts,
      // exact distinct, register max), so the parallelism floor is safe
      // the 4 profiled columns are projected before the widen exchange;
      // Catalyst's column pruning already did this for the r20 shape
      // (plans/r21/q_data_profile_sketch_{before,after}.txt differ only in
      // expression ids), so the explicit select is insurance, not a win
      val melted = Queries.widen(t(s, dir, "lineitem")
        .select(cols.map(col): _*)).selectExpr(
        "stack(4, " + cols.map(c => s"'$c', cast($c as string)")
          .mkString(", ") + ") as (col_name, v)")
      val stats = melted.groupBy("col_name").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("v")).as("n_distinct"))
      val est = HyperLogLog.estimateBy(
        HyperLogLog.registersBy(melted.where(col("v").isNotNull), "v",
          "col_name"), "col_name")
      stats.join(est, "col_name")
        .select(col("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), round(col("est"), 2).as("est_distinct"),
          round(abs(col("est") - col("n_distinct").cast("double"))
            / col("n_distinct").cast("double"), 6).as("rel_err"))
        .orderBy("col_name")
    },
    Some("""
      WITH m AS (
        SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS VARCHAR) AS v
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity', CAST(l_quantity AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'l_discount', CAST(l_discount AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'l_returnflag', CAST(l_returnflag AS VARCHAR) FROM lineitem),
      stats AS (
        SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_null,
               count(DISTINCT v) AS n_distinct
        FROM m GROUP BY 1),
      h AS (
        SELECT col_name,
               list_reduce(list_transform(range(1, 13),
                 i -> CAST(strpos('0123456789abcdef',
                        (substr(md5(v), 1, 12))[i]) AS BIGINT) - 1),
                 (a, x) -> a * 16 + x) AS hv
        FROM m WHERE v IS NOT NULL),
      b AS (SELECT col_name, hv // 4398046511104 AS bucket,
                   hv % 4398046511104 AS w FROM h),
      r AS (SELECT col_name, bucket,
                   max(CASE WHEN w = 0 THEN CAST(43 AS BIGINT)
                            ELSE 43 - length(bin(w)) END) AS r
            FROM b GROUP BY 1, 2),
      sums AS (SELECT col_name,
                   CAST(sum(CAST(1 AS BIGINT) << CAST(43 - r AS INTEGER))
                     AS BIGINT)
                   + (64 - count(*)) * 8796093022208 AS s
            FROM r GROUP BY 1),
      e AS (SELECT col_name, (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                   * 8796093022208.0 / CAST(s AS DOUBLE) AS est FROM sums)
      SELECT st.col_name, st.n_rows, st.n_null, st.n_distinct,
             round(e.est, 2) AS est_distinct,
             round(abs(e.est - CAST(st.n_distinct AS DOUBLE))
                   / CAST(st.n_distinct AS DOUBLE), 6) AS rel_err
      FROM stats st JOIN e USING (col_name)
      ORDER BY col_name
    """))

  /** Constraint validation — the declarative data-quality gate (referential
    * integrity, uniqueness, domain checks) reported as one (constraint,
    * n_violations, passed) frame: orphaned lineitem FKs (anti-join),
    * duplicate order PKs (group-having), negative/zero quantities and
    * out-of-domain discounts (row-local predicates). Each check is its own
    * bounded aggregate; a failing gate names the constraint instead of
    * silently shipping bad rows downstream. */
  val qIntegrityChecks = Q("q_integrity_checks",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
      val orphans = li.join(orders, li("l_orderkey") === orders("o_orderkey"),
          "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("fk_lineitem_orderkey").as("check_name"), col("n_violations"))
      val dupPk = orders.groupBy("o_orderkey").agg(count(lit(1)).as("_c"))
        .where(col("_c") > 1)
        .agg(coalesce(sum(col("_c") - 1), lit(0L)).as("n_violations"))
        .select(lit("pk_orders_unique").as("check_name"), col("n_violations"))
      val qty = li.where(col("l_quantity") <= 0)
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("domain_quantity_positive").as("check_name"),
          col("n_violations"))
      val disc = li.where(col("l_discount") < 0 || col("l_discount") > 1)
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("domain_discount_unit_interval").as("check_name"),
          col("n_violations"))
      orphans.unionByName(dupPk).unionByName(qty).unionByName(disc)
        .withColumn("passed", col("n_violations") === 0)
        .orderBy("check_name")
    },
    Some("""
      WITH checks AS (
        SELECT 'fk_lineitem_orderkey' AS check_name,
               CAST(count(*) AS BIGINT) AS n_violations
        FROM lineitem WHERE NOT EXISTS
          (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        UNION ALL
        SELECT 'pk_orders_unique',
               CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
          (SELECT count(*) AS c FROM orders GROUP BY o_orderkey
           HAVING count(*) > 1)
        UNION ALL
        SELECT 'domain_quantity_positive', CAST(count(*) AS BIGINT)
        FROM lineitem WHERE l_quantity <= 0
        UNION ALL
        SELECT 'domain_discount_unit_interval', CAST(count(*) AS BIGINT)
        FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
      SELECT check_name, n_violations, n_violations = 0 AS passed
      FROM checks
      ORDER BY check_name
    """))

  /** hourly event rollup (epoch-seconds buckets for oracle parity) */
  val qEventsHourly = Q("q_events_hourly",
    (s, dir) => events(s, dir)
      .groupBy((floor(col("ts_s") / 3600) * 3600).cast("long").as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("hour_epoch", "event_type"),
    Some("""
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
             event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY hour_epoch, event_type
    """))

  /** lag window: mean inter-event gap per event type */
  val qEventsLag = Q("q_events_lag",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("prev_s", lag(col("ts_s"), 1).over(w))
        .where(col("prev_s").isNotNull)
        .withColumn("gap_s", col("ts_s") - col("prev_s"))
        .groupBy("event_type")
        .agg(round(avg("gap_s"), 2).as("avg_gap_s"), count(lit(1)).as("n_gaps"))
        .orderBy("event_type")
    },
    Some("""
      WITH gaps AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) -
               CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id))) AS BIGINT) AS gap_s
        FROM events)
      SELECT event_type, round(avg(gap_s), 2) AS avg_gap_s,
             count(*) AS n_gaps
      FROM gaps WHERE gap_s IS NOT NULL
      GROUP BY event_type
      ORDER BY event_type
    """))

  /** Hourly gap-fill + last-observation-carried-forward — the time-series
    * regularization op: event streams have empty hours, and downstream
    * models want a dense per-(event_type, hour) grid with counts 0-filled
    * and the hourly value total carried forward across the gaps (null
    * before the first observation). The carried statistic is the SUM, not
    * the mean, deliberately: the 2-decimal values make every hourly sum an
    * exact 2-decimal number (round(·, 2) sits ~1e-13 from its target,
    * never near a .005 boundary), while means divide by the hour's count
    * and land EXACTLY on round-half boundaries (sum/24 → x.xxx75), where
    * Spark and DuckDB resolve the binary half-representation in opposite
    * directions — the sf0.1 sweep caught three such rows before this
    * became the sum.
    *
    * Scale shape: the dense hour axis comes from ONE 1-row min/max
    * aggregate exploded into the hour range — calendar-sized (a decade is
    * ~90k rows), never data-sized — cross-joined with the distinct-type
    * frame (both broadcast). The observed aggregate is a plain hash-agg on
    * (type, hour); the LOCF window partitions by event_type over the
    * calendar-bounded axis, so no partition exceeds the hour count
    * regardless of corpus size. DuckDB replays the fill with
    * `last_value(... IGNORE NULLS)`. */
  val qGapfill = Q("q_gapfill",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), floor(col("ts_s") / 3600).cast("long").as("hr"),
          col("value"))
      val agg = ev.groupBy("event_type", "hr")
        .agg(count(lit(1)).as("_n"), round(sum("value"), 2).as("_sum"))
      val hours = ev.agg(min("hr").as("_mn"), max("hr").as("_mx"))
        .select(explode(sequence(col("_mn"), col("_mx"))).as("hr"))
      val types = ev.select("event_type").distinct()
      val w = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // hint the HOURS side: it descends from a 1-row scalar aggregate
      // (provably bounded at any corpus size); the distinct-types frame is
      // a data-derived aggregate — small here, but exactly the shape the
      // repo's broadcast discipline leaves to AQE
      types.crossJoin(broadcast(hours))
        .join(agg, Seq("event_type", "hr"), "left")
        .select(col("event_type"), col("hr"),
          coalesce(col("_n"), lit(0L)).as("n_events"),
          last(col("_sum"), ignoreNulls = true).over(w).as("sum_value"))
        .orderBy("event_type", "hr")
    },
    Some("""
      WITH ev AS (
        SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr, value
        FROM events),
      agg AS (
        SELECT event_type, hr, count(*) AS n, round(sum(value), 2) AS sum_v
        FROM ev GROUP BY 1, 2),
      hours AS (
        SELECT unnest(range(min(hr), max(hr) + 1)) AS hr FROM ev),
      grid AS (
        SELECT t.event_type, h.hr
        FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN hours h)
      SELECT g.event_type, g.hr,
             CAST(coalesce(a.n, 0) AS BIGINT) AS n_events,
             last_value(a.sum_v IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value
      FROM grid g LEFT JOIN agg a USING (event_type, hr)
      ORDER BY event_type, hr
    """))

  /** Hourly anomaly flags — the monitoring op on top of the gap-fill
    * grid: per event type, hours whose count deviates more than 3
    * standard deviations from that type's hourly mean, COMPUTED OVER THE
    * DENSE GRID so a silent outage (zero-count hour) is itself a
    * candidate anomaly — scanning only observed hours can never flag the
    * hour that's missing. Per-type mean/sd is a 5-row aggregate joined
    * back (rounded to 6 decimals before the z-score so both engines
    * standardize identical inputs); output is the anomalous rows only.
    * Scale shape: the gap-fill grid (calendar × types) plus one tiny
    * stats join — no window beyond the calendar-bounded fill. */
  val qHourlyAnomalies = Q("q_hourly_anomalies",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"),
          floor(col("ts_s") / 3600).cast("long").as("hr"))
      val agg = ev.groupBy("event_type", "hr").agg(count(lit(1)).as("_n"))
      val hours = ev.agg(min("hr").as("_mn"), max("hr").as("_mx"))
        .select(explode(sequence(col("_mn"), col("_mx"))).as("hr"))
      val types = ev.select("event_type").distinct()
      val grid = types.crossJoin(broadcast(hours))
        .join(agg, Seq("event_type", "hr"), "left")
        .select(col("event_type"), col("hr"),
          coalesce(col("_n"), lit(0L)).as("n_events"))
      val stats = grid.groupBy("event_type")
        .agg(round(avg("n_events"), 6).as("_mu"),
          round(stddev_samp(col("n_events").cast("double")), 6).as("_sd"))
      grid.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", round((col("n_events") - col("_mu")) / col("_sd"), 4))
        .where(abs(col("z")) > 3.0)
        .select(col("event_type"), col("hr"), col("n_events"), col("z"))
        .orderBy("event_type", "hr")
    },
    Some("""
      WITH ev AS (
        SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr
        FROM events),
      agg AS (
        SELECT event_type, hr, count(*) AS n FROM ev GROUP BY 1, 2),
      hours AS (
        SELECT unnest(range(min(hr), max(hr) + 1)) AS hr FROM ev),
      grid AS (
        SELECT t.event_type, h.hr,
               CAST(coalesce(a.n, 0) AS BIGINT) AS n_events
        FROM (SELECT DISTINCT event_type FROM ev) t
        CROSS JOIN hours h
        LEFT JOIN agg a ON a.event_type = t.event_type AND a.hr = h.hr),
      stats AS (
        SELECT event_type, round(avg(n_events), 6) AS mu,
               round(stddev_samp(CAST(n_events AS DOUBLE)), 6) AS sd
        FROM grid GROUP BY event_type)
      SELECT g.event_type, g.hr, g.n_events,
             round((g.n_events - s.mu) / s.sd, 4) AS z
      FROM grid g JOIN stats s USING (event_type)
      WHERE abs(round((g.n_events - s.mu) / s.sd, 4)) > 3.0
      ORDER BY g.event_type, g.hr
    """))

  /** EWMA smoothing of the hourly series — the exponential decay filter
    * (α = 0.25) every monitoring stack runs beside the raw counts: over
    * the SAME dense grid as the gap-fill, each type's running
    * `0.25·x + 0.75·prev` — carried as an INTEGER in millionths with a
    * floor division per step (`e_t = ⌊(10⁶·x_t + 3·e_{t−1}) / 4⌋`), which
    * is what makes the inherently sequential fold engine-replayable:
    * quarter-steps over 6-decimal values land on round-half boundaries
    * about once in four steps, and Spark rounds the binary double where
    * DuckDB rounds its decimal presentation (93/3600 rows flipped when
    * this was a rounded double fold). Integer state is bit-exact in both
    * engines; the emitted ewma divides the SAME integer by 10⁶, so the
    * doubles are identical without any terminal rounding. DuckDB replays
    * the recursion as a step-per-hour recursive CTE. Plan shape: the per-type fold runs over a CALENDAR-BOUNDED
    * array (one collect_list group per type, ≤ hours rows — the same
    * bounded-axis argument as the grid itself), as a single codegen'd
    * `aggregate()` expression; no per-row shuffle, no window beyond the
    * grid build. */
  val qEwmaSmooth = Q("q_ewma_smooth",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), floor(col("ts_s") / 3600).cast("long").as("hr"))
      val agg = ev.groupBy("event_type", "hr").agg(count(lit(1)).as("_n"))
      val hours = ev.agg(min("hr").as("_mn"), max("hr").as("_mx"))
        .select(explode(sequence(col("_mn"), col("_mx"))).as("hr"))
      val grid = ev.select("event_type").distinct()
        .crossJoin(broadcast(hours))
        .join(agg, Seq("event_type", "hr"), "left")
        .select(col("event_type"), col("hr"),
          coalesce(col("_n"), lit(0L)).as("n"))
      grid.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("hr"), col("n")))).as("_xs"))
        .withColumn("_ew", expr("""
          aggregate(_xs, CAST(array() AS array<bigint>),
            (acc, x) -> concat(acc, array(
              CASE WHEN size(acc) = 0 THEN x.n * 1000000L
                   ELSE CAST(floor((x.n * 1000000L +
                     3L * element_at(acc, size(acc))) / 4) AS BIGINT) END)))"""))
        .select(col("event_type"),
          explode(arrays_zip(col("_xs"), col("_ew"))).as("_z"))
        .select(col("event_type"), col("_z._xs.hr").as("hr"),
          col("_z._xs.n").as("n_events"),
          (col("_z._ew") / 1000000.0).as("ewma"))
        .orderBy("event_type", "hr")
    },
    Some("""
      WITH RECURSIVE ev AS (
        SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr
        FROM events),
      agg AS (SELECT event_type, hr, count(*) AS n FROM ev GROUP BY 1, 2),
      hours AS (SELECT unnest(range(min(hr), max(hr) + 1)) AS hr FROM ev),
      dense AS (
        SELECT t.event_type, h.hr,
               CAST(coalesce(a.n, 0) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY t.event_type ORDER BY h.hr)
                 AS idx
        FROM (SELECT DISTINCT event_type FROM ev) t
        CROSS JOIN hours h
        LEFT JOIN agg a ON a.event_type = t.event_type AND a.hr = h.hr),
      steps AS (
        SELECT event_type, idx, hr, n, n * 1000000 AS e
        FROM dense WHERE idx = 1
        UNION ALL
        SELECT d.event_type, d.idx, d.hr, d.n,
               CAST(floor((d.n * 1000000 + 3 * s.e) / 4) AS BIGINT)
        FROM steps s JOIN dense d
          ON d.event_type = s.event_type AND d.idx = s.idx + 1)
      SELECT event_type, hr, n AS n_events, e / 1000000.0 AS ewma
      FROM steps
      ORDER BY event_type, hr
    """))

  /** Seasonality profile — the (day-of-week × hour-of-day) heatmap behind
    * capacity planning and anomaly baselines: per cell, event count and
    * value total. Calendar fields come from PURE EPOCH ARITHMETIC
    * (dow = (day + 4) mod 7 with epoch day 0 a Thursday; hour =
    * (ts/3600) mod 24) rather than either engine's dayofweek function —
    * Spark and DuckDB disagree on week-start conventions, integer
    * arithmetic cannot. The value stat is the SUM (the gap-fill
    * round-half lesson). One hash-agg to a fixed 168-row frame. */
  val qSeasonality = Q("q_seasonality",
    (s, dir) => events(s, dir)
      .groupBy(
        pmod(floor(col("ts_s") / 86400) + 4, lit(7)).cast("long").as("dow"),
        pmod(floor(col("ts_s") / 3600), lit(24)).cast("long").as("hour"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("dow", "hour"),
    Some("""
      WITH e AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value FROM events)
      SELECT CAST((floor(ts_s / 86400) + 4) % 7 AS BIGINT) AS dow,
             CAST(floor(ts_s / 3600) % 24 AS BIGINT) AS hour,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM e
      GROUP BY 1, 2
      ORDER BY dow, hour
    """))

  /** tumbling-window aggregation via the streaming `window()` operator run
    * in batch mode — the exact code path StreamOps uses under readStream
    * (SURVEY §2.4 streaming). Output = epoch seconds of window start/end. */
  val qStreamHourly = Q("q_stream_hourly",
    (s, dir) => events(s, dir)
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("ws"),
        unix_timestamp(col("window.end")).as("we"), col("event_type"), col("n"))
      .orderBy("ws", "event_type"),
    Some("""
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS ws,
             CAST(floor(epoch(date_trunc('hour', ts) + INTERVAL 1 HOUR)) AS BIGINT) AS we,
             event_type, count(*) AS n
      FROM events
      GROUP BY 1, 2, 3
      ORDER BY ws, event_type
    """))

  val all: Seq[Q] = Seq(q3JoinTopn, q5Multijoin, q6Filter, qWindowRank,
    qWindowRunning, qAntiJoin, qSemiJoin, qSetOps, qEventsHourly, qEventsLag,
    qGapfill, qHourlyAnomalies, qEwmaSmooth, qSeasonality,
    qDataProfile, qDataProfileSketch, qIntegrityChecks, qBasketPairs,
    qFulfillmentSla, qStreamHourly)
}
