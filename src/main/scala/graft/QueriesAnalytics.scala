package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.{Q, table => t}
import graft.operators.{AsofJoin, RangeJoin}

/** Advanced analytics operators: as-of join, sessionization, pivot,
  * percentiles, histograms — the time-series/reporting layer on top of the
  * relational core.
  */
object QueriesAnalytics {

  private def events(s: SparkSession, dir: String): DataFrame =
    Queries.eventsTable(s, dir)

  /** backward as-of join: each event picks the user's most recent order at
    * or before the event time (union+window plan: one shuffle, no range
    * explosion) */
  val qAsofJoin = Q("q_asof_join",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_s"))
      // dedupe ties: one row per (custkey, orderdate) = the max orderkey
      val orders = t(s, dir, "orders")
        .withColumn("o_date_s", unix_timestamp(col("o_orderdate")))
        .groupBy("o_custkey", "o_date_s")
        .agg(max("o_orderkey").as("last_orderkey"))
      AsofJoin.asof(ev, orders, "user_id", "o_custkey", "ts_s", "o_date_s",
        Seq("last_orderkey"))
        .select(col("event_id"), col("user_id"), col("last_orderkey"))
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events),
      ord AS (
        SELECT o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date_s,
               max(o_orderkey) AS last_orderkey
        FROM orders GROUP BY 1, 2)
      SELECT ev.event_id, ev.user_id, ord.last_orderkey
      FROM ev ASOF JOIN ord
        ON ev.user_id = ord.o_custkey AND ev.ts_s >= ord.o_date_s
      ORDER BY event_id
    """))

  /** forward as-of: for each click, the user's next purchase at-or-after
    * it — click-to-purchase attribution (merge_asof direction='forward');
    * same single-exchange union-window plan as backward. The right side
    * dedupes ties to one row per (user, second): max event_id. */
  val qAsofForward = Q("q_asof_forward",
    (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_s"))
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts_s").as("p_ts"))
        .agg(max("event_id").as("purchase_id"))
      AsofJoin.asof(clicks, purchases, "user_id", "p_user", "ts_s", "p_ts",
        Seq("purchase_id", "p_ts"), direction = "forward")
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          (col("p_ts") - col("ts_s")).cast("long").as("secs_to_purchase"))
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events),
      clicks AS (
        SELECT event_id, user_id, ts_s FROM ev WHERE event_type = 'click'),
      purch AS (
        SELECT user_id AS p_user, ts_s AS p_ts, max(event_id) AS purchase_id
        FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT c.event_id, c.user_id, p.purchase_id,
             p.p_ts - c.ts_s AS secs_to_purchase
      FROM clicks c ASOF JOIN purch p
        ON c.user_id = p.p_user AND c.ts_s <= p.p_ts
      ORDER BY c.event_id
    """))

  /** nearest as-of: for each error, the user's closest view either side
    * (error-context correlation); exact tie → backward. Both window frames
    * run over ONE exchange — only the in-partition sort differs. */
  val qAsofNearest = Q("q_asof_nearest",
    (s, dir) => {
      val ev = events(s, dir)
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts_s"))
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id").as("v_user"), col("ts_s").as("v_ts"))
        .agg(max("event_id").as("view_id"))
      AsofJoin.asof(errors, views, "user_id", "v_user", "ts_s", "v_ts",
        Seq("view_id", "v_ts"), direction = "nearest")
        .select(col("event_id"), col("user_id"), col("view_id"),
          abs(col("v_ts") - col("ts_s")).cast("long").as("secs_apart"))
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events),
      err AS (
        SELECT event_id, user_id, ts_s FROM ev WHERE event_type = 'error'),
      vw AS (
        SELECT user_id AS v_user, ts_s AS v_ts, max(event_id) AS view_id
        FROM ev WHERE event_type = 'view' GROUP BY 1, 2),
      b AS (
        SELECT e.event_id, e.user_id, e.ts_s, v.view_id AS bk, v.v_ts AS bt
        FROM err e ASOF LEFT JOIN vw v
          ON e.user_id = v.v_user AND e.ts_s >= v.v_ts),
      f AS (
        SELECT e.event_id, v.view_id AS fk, v.v_ts AS ft
        FROM err e ASOF LEFT JOIN vw v
          ON e.user_id = v.v_user AND e.ts_s <= v.v_ts)
      SELECT b.event_id, b.user_id,
             CASE WHEN ft IS NULL THEN bk
                  WHEN bt IS NULL THEN fk
                  WHEN b.ts_s - bt <= ft - b.ts_s THEN bk
                  ELSE fk END AS view_id,
             CASE WHEN ft IS NULL THEN b.ts_s - bt
                  WHEN bt IS NULL THEN ft - b.ts_s
                  WHEN b.ts_s - bt <= ft - b.ts_s THEN b.ts_s - bt
                  ELSE ft - b.ts_s END AS secs_apart
      FROM b JOIN f USING (event_id)
      WHERE bk IS NOT NULL OR fk IS NOT NULL
      ORDER BY event_id
    """))

  /** bounded as-of (merge_asof tolerance parity — verdict r11 #6): the
    * nearest error↔view correlation capped at a 1-hour gap. Exercises the
    * subtle semantic: the bound gates EACH direction before the
    * closer-of-two choice, so an out-of-tolerance backward candidate loses
    * to an in-tolerance forward one instead of blocking the match; errors
    * with no view within the hour drop entirely (inner semantics). Same
    * single-exchange union-window plan — the gate is a scalar predicate. */
  val qAsofTolerance = Q("q_asof_tolerance",
    (s, dir) => {
      val ev = events(s, dir)
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts_s"))
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id").as("v_user"), col("ts_s").as("v_ts"))
        .agg(max("event_id").as("view_id"))
      AsofJoin.asof(errors, views, "user_id", "v_user", "ts_s", "v_ts",
        Seq("view_id", "v_ts"), direction = "nearest",
        tolerance = Some(3600L))
        .select(col("event_id"), col("user_id"), col("view_id"),
          abs(col("v_ts") - col("ts_s")).cast("long").as("secs_apart"))
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events),
      err AS (
        SELECT event_id, user_id, ts_s FROM ev WHERE event_type = 'error'),
      vw AS (
        SELECT user_id AS v_user, ts_s AS v_ts, max(event_id) AS view_id
        FROM ev WHERE event_type = 'view' GROUP BY 1, 2),
      b0 AS (
        SELECT e.event_id, e.user_id, e.ts_s, v.view_id AS bk, v.v_ts AS bt
        FROM err e ASOF LEFT JOIN vw v
          ON e.user_id = v.v_user AND e.ts_s >= v.v_ts),
      f0 AS (
        SELECT e.event_id, v.view_id AS fk, v.v_ts AS ft
        FROM err e ASOF LEFT JOIN vw v
          ON e.user_id = v.v_user AND e.ts_s <= v.v_ts),
      g AS (
        SELECT b0.event_id, b0.user_id, b0.ts_s,
               CASE WHEN b0.ts_s - bt <= 3600 THEN bk END AS bk,
               CASE WHEN b0.ts_s - bt <= 3600 THEN bt END AS bt,
               CASE WHEN ft - b0.ts_s <= 3600 THEN fk END AS fk,
               CASE WHEN ft - b0.ts_s <= 3600 THEN ft END AS ft
        FROM b0 JOIN f0 USING (event_id))
      SELECT event_id, user_id,
             CASE WHEN ft IS NULL THEN bk
                  WHEN bt IS NULL THEN fk
                  WHEN ts_s - bt <= ft - ts_s THEN bk
                  ELSE fk END AS view_id,
             CASE WHEN ft IS NULL THEN ts_s - bt
                  WHEN bt IS NULL THEN ft - ts_s
                  WHEN ts_s - bt <= ft - ts_s THEN ts_s - bt
                  ELSE ft - ts_s END AS secs_apart
      FROM g
      WHERE bk IS NOT NULL OR fk IS NOT NULL
      ORDER BY event_id
    """))

  /** last-touch attribution — the bread-and-butter use of the BOUNDED
    * backward as-of (r12): each purchase attributed to the user's most
    * recent click within ONE HOUR; a purchase with no click inside the
    * window is unattributed and drops (inner semantics). The exact shape
    * an unbounded backward match gets wrong (crediting a click from
    * three years prior). Same single-exchange union-window plan. */
  val qAsofAttribution = Q("q_asof_attribution",
    (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_s"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), col("ts_s").as("c_ts"))
        .agg(max("event_id").as("click_id"))
      AsofJoin.asof(purchases, clicks, "user_id", "c_user", "ts_s", "c_ts",
        Seq("click_id", "c_ts"), direction = "backward",
        tolerance = Some(3600L))
        .select(col("event_id"), col("user_id"), col("click_id"),
          (col("ts_s") - col("c_ts")).cast("long").as("secs_since_click"))
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events),
      purch AS (
        SELECT event_id, user_id, ts_s FROM ev WHERE event_type = 'purchase'),
      clk AS (
        SELECT user_id AS c_user, ts_s AS c_ts, max(event_id) AS click_id
        FROM ev WHERE event_type = 'click' GROUP BY 1, 2)
      SELECT p.event_id, p.user_id, c.click_id,
             p.ts_s - c.c_ts AS secs_since_click
      FROM purch p ASOF JOIN clk c
        ON p.user_id = c.c_user AND p.ts_s >= c.c_ts
      WHERE p.ts_s - c.c_ts <= 3600
      ORDER BY p.event_id
    """))

  /** sessionization: a 30-minute inactivity gap starts a new session */
  val qSessionize = Q("q_sessionize",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
      val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("prev_s", lag(col("ts_s"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_s").isNull || col("ts_s") - col("prev_s") > 1800, 1)
            .otherwise(0))
        .withColumn("sess_no", sum("new_sess").over(wCum))
        .groupBy("user_id", "sess_no")
        .agg(min("ts_s").as("sess_start"), max("ts_s").as("sess_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sess_no").cast("long").as("sess_no"),
          col("sess_start"), (col("sess_end") - col("sess_start")).as("duration_s"),
          col("n_events"))
        .orderBy("user_id", "sess_no")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events),
      flagged AS (
        SELECT user_id, event_id, ts_s,
               CASE WHEN lag(ts_s) OVER w IS NULL
                         OR ts_s - lag(ts_s) OVER w > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
      sess AS (
        SELECT user_id, ts_s,
               -- DuckDB types an integer window SUM as HUGEINT; cast to BIGINT
               -- so the driver's hash compare sees the same int64 as Spark
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no
        FROM flagged)
      SELECT user_id, sess_no, min(ts_s) AS sess_start,
             max(ts_s) - min(ts_s) AS duration_s, count(*) AS n_events
      FROM sess
      GROUP BY user_id, sess_no
      ORDER BY user_id, sess_no
    """))

  /** Top event paths — the sequence-mining op on top of sessionization:
    * each session's ordered event-type string ("view>click>purchase"),
    * then the 10 most frequent paths across all sessions. Sessions come
    * from the SAME lag + cumulative-sum definition as q_sessionize (user-
    * partitioned windows); the path string is one row-local
    * sort_array-of-structs → slice(50) → transform → concat_ws per session
    * group (the struct sort orders by (ts, id) lexicographically, so ties
    * replay; the 50-event cap is the standard path truncation, so an
    * always-active session cannot blow a group at scale);
    * the global top-10 is TakeOrderedAndProject — never a full sort or an
    * unpartitioned window. DuckDB replays the path with
    * `string_agg(... ORDER BY ts_s, event_id)`. */
  val qEventPaths = Q("q_event_paths",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
      val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = events(s, dir)
        .withColumn("prev_s", lag(col("ts_s"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_s").isNull || col("ts_s") - col("prev_s") > 1800, 1)
            .otherwise(0))
        .withColumn("sess_no", sum("new_sess").over(wCum))
      val paths = sess.groupBy("user_id", "sess_no")
        .agg(concat_ws(">", transform(
          // cap at the first 50 events: the standard path-analysis
          // truncation — an always-active pathological session must not
          // blow a single aggregation group at scale
          slice(sort_array(collect_list(struct(col("ts_s"), col("event_id"),
            col("event_type")))), 1, 50),
          x => x.getField("event_type"))).as("path"))
      paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), col("path"))
        .limit(10)
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events),
      flagged AS (
        SELECT user_id, event_id, event_type, ts_s,
               CASE WHEN lag(ts_s) OVER w IS NULL
                         OR ts_s - lag(ts_s) OVER w > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
      sess AS (
        SELECT user_id, event_id, event_type, ts_s,
               CAST(sum(new_sess) OVER (PARTITION BY user_id
                 ORDER BY ts_s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS sess_no
        FROM flagged),
      paths AS (
        SELECT user_id, sess_no,
               array_to_string(list_slice(
                 list(event_type ORDER BY ts_s, event_id), 1, 50), '>') AS path
        FROM sess GROUP BY user_id, sess_no)
      SELECT path, count(*) AS n_sessions
      FROM paths GROUP BY path
      ORDER BY n_sessions DESC, path
      LIMIT 10
    """))

  /** Event-type transition matrix — the first-order Markov chain over each
    * user's ordered event stream: P(next = b | current = a) for every
    * observed (a, b) pair, the behavioral-model artifact path mining's
    * top-10 cannot give (paths enumerate whole sequences; this gives the
    * edge probabilities any sequence model starts from). One user-
    * partitioned lag window (the q_sessionize exchange), one hash-agg to
    * the |types|² transition counts, row totals via a second tiny agg
    * joined back — no window over the aggregate, no collect. */
  val qEventTransitions = Q("q_event_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
      val pairs = events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("cur"), col("next_type").as("nxt"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy("cur").agg(sum("n").as("_tot"))
      pairs.join(totals, Seq("cur"))
        .select(col("cur"), col("nxt"), col("n"),
          round(col("n") / col("_tot"), 6).as("p"))
        .orderBy("cur", "nxt")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events),
      pairs AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts_s, event_id) AS nxt
        FROM e),
      cnt AS (
        SELECT cur, nxt, count(*) AS n
        FROM pairs WHERE nxt IS NOT NULL GROUP BY cur, nxt),
      tot AS (SELECT cur, sum(n) AS t FROM cnt GROUP BY cur)
      SELECT c.cur, c.nxt, c.n,
             round(CAST(c.n AS DOUBLE) / t.t, 6) AS p
      FROM cnt c JOIN tot t USING (cur)
      ORDER BY cur, nxt
    """))

  /** range self-join: events in each event's trailing 60-second window —
    * bucketed equi-join plan (see [[graft.operators.RangeJoin]]), NOT the
    * broadcast-nested-loop an inequality-only join would plan */
  val qRangeJoin = Q("q_range_join",
    (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("ts_s"))
      val pairs = RangeJoin.pointsInWindow(
        ev, ev.select(col("ts_s").as("ts2")), "ts_s", "ts2", 60)
      val counts = pairs.groupBy("event_id")
        .agg(count(lit(1)).as("n_prev_60s"))
      ev.select("event_id").join(counts, Seq("event_id"), "left")
        .select(col("event_id"),
          coalesce(col("n_prev_60s"), lit(0L)).as("n_prev_60s"))
        .orderBy("event_id")
    },
    Some("""
      WITH e AS (
        SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events)
      SELECT a.event_id, count(b.ts_s) AS n_prev_60s
      FROM e a LEFT JOIN e b
        ON b.ts_s >= a.ts_s - 60 AND b.ts_s < a.ts_s
      GROUP BY a.event_id
      ORDER BY a.event_id
    """))

  /** pivot: event types to columns (explicit value list => static schema) */
  val qPivot = Q("q_pivot",
    (s, dir) => events(s, dir)
      .withColumn("user_bucket", pmod(col("user_id"), lit(10)).cast("long"))
      .groupBy("user_bucket")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(round(sum("value"), 2))
      .na.fill(0.0)
      .orderBy("user_bucket"),
    Some("""
      SELECT user_id % 10 AS user_bucket,
             coalesce(round(sum(value) FILTER (event_type = 'click'), 2), 0) AS click,
             coalesce(round(sum(value) FILTER (event_type = 'view'), 2), 0) AS view,
             coalesce(round(sum(value) FILTER (event_type = 'purchase'), 2), 0) AS purchase,
             coalesce(round(sum(value) FILTER (event_type = 'signup'), 2), 0) AS signup,
             coalesce(round(sum(value) FILTER (event_type = 'error'), 2), 0) AS error
      FROM events
      GROUP BY 1
      ORDER BY user_bucket
    """))

  /** unpivot/melt — the inverse reshape completing the pivot pair
    * (§2.4): the wide per-bucket frame back to long (bucket, event_type,
    * total) rows via `stack` (a Generator, so it widens rows inside the
    * same stage — no shuffle beyond the pivot's own aggregation). */
  val qUnpivot = Q("q_unpivot",
    (s, dir) => events(s, dir)
      .withColumn("user_bucket", pmod(col("user_id"), lit(10)).cast("long"))
      .groupBy("user_bucket")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(round(sum("value"), 2))
      .na.fill(0.0)
      .select(col("user_bucket"), expr(
        """stack(5, 'click', click, 'view', view, 'purchase', purchase,
          |'signup', signup, 'error', error) AS (event_type, total)"""
          .stripMargin))
      .orderBy("user_bucket", "event_type"),
    Some("""
      WITH w AS (
        SELECT user_id % 10 AS user_bucket,
               coalesce(round(sum(value) FILTER (event_type = 'click'), 2), 0) AS click,
               coalesce(round(sum(value) FILTER (event_type = 'view'), 2), 0) AS view,
               coalesce(round(sum(value) FILTER (event_type = 'purchase'), 2), 0) AS purchase,
               coalesce(round(sum(value) FILTER (event_type = 'signup'), 2), 0) AS signup,
               coalesce(round(sum(value) FILTER (event_type = 'error'), 2), 0) AS error
        FROM events GROUP BY 1)
      SELECT user_bucket, event_type, total
      FROM w UNPIVOT (total FOR event_type IN (click, view, purchase, signup, error))
      ORDER BY user_bucket, event_type
    """))

  /** Exact interpolated percentiles per group — computed by SORT, not by
    * the `percentile()` aggregate: that aggregate collects every group
    * value into one in-memory buffer (a per-group OOM hazard once groups
    * reach billions of rows), while this plan is one sort shuffle plus a
    * filter that keeps only the two boundary rows per quantile. Same
    * linear-interpolation definition as DuckDB's quantile_cont:
    * h = q·(n−1); result = v[⌊h⌋]·(1−frac) + v[⌈h⌉]·frac. */
  /** Modern aggregate-function breadth in one pass: filtered counts,
    * median, boolean aggregates, sample stddev, correlation, regression
    * slope — each the codegen'd builtin (no UDAF), grouped on the 3-value
    * return flag so every aggregate partial-combines map-side. Floats are
    * computed in double and rounded both engines (corr/slope divide two
    * large sums — absolute error ~1e-10 against a 1e-6 rounding grid). */
  val qAggExtras = Q("q_agg_extras",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("long").as("n"),
        count_if(col("l_quantity") > 25).cast("long").as("n_big"),
        round(median(col("l_quantity")), 6).as("med_qty"),
        bool_and(col("l_quantity") > 0).as("all_pos_qty"),
        bool_or(col("l_discount") > 0.09).as("any_deep_discount"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("qty_price_corr"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
          .as("price_per_qty"))
      .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             count(*) AS n,
             CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
             round(median(CAST(l_quantity AS DOUBLE)), 6) AS med_qty,
             bool_and(l_quantity > 0) AS all_pos_qty,
             bool_or(l_discount > 0.09) AS any_deep_discount,
             round(stddev_samp(l_extendedprice), 4) AS sd_price,
             round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
             round(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """))

  val qPercentiles = Q("q_percentiles",
    (s, dir) => {
      val byVal = Window.partitionBy("event_type").orderBy("value")
      val whole = Window.partitionBy("event_type")
      val qs = Seq(0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90")
      val ranked = events(s, dir)
        .select(col("event_type"), col("value"))
        .withColumn("rn", (row_number().over(byVal) - 1).cast("double"))
        .withColumn("n", count(lit(1)).over(whole))
        .withColumn("vmin_all", min("value").over(whole))
        .withColumn("vmax_all", max("value").over(whole))
      val boundaryAggs = qs.flatMap { case (q, name) =>
        val h = lit(q) * (col("n") - 1)
        Seq(
          sum(when(col("rn") === floor(h), col("value")).otherwise(lit(0.0)))
            .as(s"_lo_$name"),
          sum(when(col("rn") === ceil(h), col("value")).otherwise(lit(0.0)))
            .as(s"_hi_$name"))
      } ++ Seq(min("vmin_all").as("_vmin"), max("vmax_all").as("_vmax"))
      val interpolated = qs.map { case (q, name) =>
        val h = lit(q) * (col("_n") - 1)
        // v_lo + (v_hi − v_lo)·frac — the same algebraic form quantile_cont
        // uses, so the engines agree bit-for-bit before rounding; when
        // ⌊h⌋ = ⌈h⌉ both sums hold the same row and the term cancels
        round(col(s"_lo_$name") +
          (col(s"_hi_$name") - col(s"_lo_$name")) * (h - floor(h)), 4).as(name)
      }
      ranked
        // only quantile-boundary rows survive into the (tiny) aggregation
        .where(qs.map { case (q, _) =>
          val h = lit(q) * (col("n") - 1)
          col("rn") === floor(h) || col("rn") === ceil(h)
        }.reduce(_ || _))
        .groupBy("event_type")
        .agg(max(col("n")).as("_n"), boundaryAggs: _*)
        .select(col("event_type") +: interpolated :+
          round(col("_vmin"), 4).as("vmin") :+
          round(col("_vmax"), 4).as("vmax"): _*)
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type,
             round(quantile_cont(value, 0.25), 4) AS p25,
             round(quantile_cont(value, 0.5), 4) AS p50,
             round(quantile_cont(value, 0.9), 4) AS p90,
             round(min(value), 4) AS vmin, round(max(value), 4) AS vmax
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """))

  /** fixed-width histogram over order totals */
  val qHistogram = Q("q_histogram",
    (s, dir) => t(s, dir, "orders")
      .withColumn("bin", (floor(col("o_totalprice") / 50000) * 50000).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 2).as("avg_price"))
      .orderBy("bin"),
    Some("""
      SELECT CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS bin,
             count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
      FROM orders
      GROUP BY 1
      ORDER BY bin
    """))

  /** hierarchical aggregation: ROLLUP over (returnflag, linestatus) with
    * subtotal and grand-total rows */
  val qRollup = Q("q_rollup",
    (s, dir) => t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first),
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """))

  /** Ordered funnel-step analysis — sequential-pattern matching over event
    * streams (view → click → purchase, IN ORDER per user): the product
    * analytics op windows/sessionize don't cover, because each stage's
    * qualifying timestamp depends on the PREVIOUS stage's (a view after
    * the click doesn't count for stage 1). Three chained min-aggregates:
    * t1 = first view per user, t2 = first click after t1, t3 = first
    * purchase after t2 — each stage one hash-agg over a filtered
    * event/stage join of USER-count cardinality, no window, no
    * collect_list fold, no per-user sequence materialization. Emits the
    * funnel report: users reaching each stage + conversion from the
    * previous one. At 100 TB each stage frame is |users| rows keyed by
    * user — the chained joins co-partition on the same key, so AQE plans
    * one exchange lineage. Ties inside a timestamp are broken by event_id
    * (both engines aggregate min over the same (ts, id) pairs). */
  val qFunnelSteps = Q("q_funnel_steps",
    (s, dir) => {
      // (ts, id) packed into one sortable BIGINT (ts·10^7 + id; event ids
      // are well under 10^7 at every testdata sf) so min-aggregation and
      // the strict-after gate are single-column in BOTH engines — DuckDB's
      // min_by has no composite-key form to mirror a struct-min
      val ev = events(s, dir)
        .select(col("user_id"), col("event_type"),
          (col("ts_s") * lit(10000000L) + col("event_id")).as("_pk"))
      def firstAfter(typ: String, prev: Option[DataFrame]): DataFrame = {
        val base = ev.where(col("event_type") === typ)
        prev match {
          case None => base.groupBy("user_id").agg(min("_pk").as("_pk"))
          case Some(p) =>
            // the step gate IS a bounded forward as-of join — the next
            // step's EARLIEST event strictly after the previous stage's
            // qualifying event and within 24 HOURS of it (without a bound
            // this corpus converts every user at 1.0). The operator owns
            // the bound now (AsofJoin tolerance, r12): strict-after via
            // t = _pk + 1 (packed keys are unique), 24 h via
            // tolerance = 86400 s·10^7 − 1 in packed units. One exchange,
            // no join + re-aggregate pass.
            AsofJoin.asof(
              p.select(col("user_id"), (col("_pk") + 1L).as("_prev")),
              base.select(col("user_id").as("_bu"), col("_pk")),
              "user_id", "_bu", "_prev", "_pk", Seq("_pk"),
              direction = "forward",
              tolerance = Some(86400L * 10000000L - 1L))
              .select(col("user_id"), col("_pk"))
        }
      }
      val s1 = firstAfter("view", None)
      val s2 = firstAfter("click", Some(s1))
      val s3 = firstAfter("purchase", Some(s2))
      import s.implicits._
      val counts = Seq(
        ("1_view", s1), ("2_click_after_view", s2),
        ("3_purchase_after_click", s3))
        .map { case (n, df) => df.agg(count(lit(1)).as("n_users"))
          .select(lit(n).as("stage"), col("n_users")) }
        .reduce(_ unionByName _)
      // conversion relative to stage 1 via a 1-row base-count cross join —
      // NOT an ordered window over the 3-row frame (the surface-wide audit
      // bans unpartitioned ordered windows and cannot know this one is
      // stage-count-bounded)
      val base = s1.agg(count(lit(1)).as("_base"))
      counts.crossJoin(broadcast(base))
        .select(col("stage"), col("n_users"),
          round(col("n_users") / col("_base"), 6).as("conversion"))
        .orderBy("stage")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) * 10000000 + event_id AS pk
        FROM events),
      s1 AS (
        SELECT user_id, min(pk) AS pk
        FROM ev WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (
        SELECT e.user_id, min(e.pk) AS pk
        FROM ev e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.pk > s1.pk
          AND e.pk <= s1.pk + CAST(864000000000 AS BIGINT)
        GROUP BY e.user_id),
      s3 AS (
        SELECT e.user_id, min(e.pk) AS pk
        FROM ev e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.pk > s2.pk
          AND e.pk <= s2.pk + CAST(864000000000 AS BIGINT)
        GROUP BY e.user_id),
      counts AS (
        SELECT '1_view' AS stage, count(*) AS n_users FROM s1
        UNION ALL SELECT '2_click_after_view', count(*) FROM s2
        UNION ALL SELECT '3_purchase_after_click', count(*) FROM s3)
      SELECT stage, n_users,
             round(CAST(n_users AS DOUBLE) /
                   (SELECT count(*) FROM s1), 6) AS conversion
      FROM counts
      ORDER BY stage
    """))

  /** Weekly retention cohorts — the second product-analytics classic
    * beside the funnel: users cohorted by first-seen week, the fraction
    * still active in each subsequent week. Two hash-aggregates and one
    * user-keyed join: first-seen day per user (|users| rows), the
    * distinct (user, week-offset) activity set, cohort sizes, then the
    * matrix aggregate — every frame keyed by user or by the
    * calendar-bounded (cohort, offset) pair, no window anywhere. Weeks
    * are epoch-day based (day/7) so both engines derive identical integer
    * buckets; retention is rounded from an exact count ratio. */
  val qRetentionCohorts = Q("q_retention_cohorts",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), floor(col("ts_s") / 86400L).cast("long").as("_day"))
      val first = ev.groupBy("user_id").agg(min("_day").as("_d0"))
      val activity = ev.join(first, Seq("user_id"))
        .select(col("user_id"), floor(col("_d0") / 7).cast("long").as("cohort_week"),
          floor((col("_day") - col("_d0")) / 7).cast("long").as("week_offset"))
        .distinct()
      val sizes = first
        .groupBy(floor(col("_d0") / 7).cast("long").as("cohort_week"))
        .agg(count(lit(1)).as("_n0"))
      activity.groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, Seq("cohort_week"))
        .select(col("cohort_week"), col("week_offset"), col("n_active"),
          round(col("n_active") / col("_n0"), 6).as("retention"))
        .orderBy("cohort_week", "week_offset")
    },
    Some("""
      WITH ev AS (
        SELECT user_id,
               CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400) AS BIGINT)
                 AS day
        FROM events),
      first AS (SELECT user_id, min(day) AS d0 FROM ev GROUP BY user_id),
      activity AS (
        SELECT DISTINCT e.user_id,
               CAST(floor(f.d0 / 7) AS BIGINT) AS cohort_week,
               CAST(floor((e.day - f.d0) / 7) AS BIGINT) AS week_offset
        FROM ev e JOIN first f USING (user_id)),
      sizes AS (
        SELECT CAST(floor(d0 / 7) AS BIGINT) AS cohort_week,
               count(*) AS n0
        FROM first GROUP BY 1)
      SELECT a.cohort_week, a.week_offset,
             count(*) AS n_active,
             round(CAST(count(*) AS DOUBLE) / any_value(s.n0), 6) AS retention
      FROM activity a JOIN sizes s USING (cohort_week)
      GROUP BY a.cohort_week, a.week_offset
      ORDER BY cohort_week, week_offset
    """))

  /** RFM segmentation — the marketing-analytics classic: every customer
    * scored 1-3 on Recency (days since last order), Frequency (order
    * count), and Monetary (lifetime spend), segment = the score triple,
    * reported as 27-cell segment counts. Tercile boundaries are EXACT
    * type-1 quantiles computed window-free with the value-histogram
    * rank idiom (the q_quantile_sketch anchor shape): every metric is
    * first forced onto a BOUNDED INTEGER domain — days via epoch
    * division, spend via `⌊100·round(p,2)+0.5⌋` cents summed exactly
    * then bucketed to thousands (floats would flip floor() at exact
    * thousand boundaries between engines — the session's third
    * round-half lesson applied preemptively), frequency is already a
    * small int — so the histogram ≤-join is domain², never customers².
    * No window anywhere; the boundary frames are 1-row aggregates. */
  val qRfmSegments = Q("q_rfm_segments",
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val perCust = orders
        .select(col("o_custkey"),
          floor(unix_timestamp(col("o_orderdate")) / 86400L).cast("long")
            .as("_day"),
          floor(round(col("o_totalprice"), 2) * 100 + 0.5).cast("long")
            .as("_cents"))
        .groupBy("o_custkey")
        .agg(max("_day").as("_last"), count(lit(1)).as("frequency"),
          sum("_cents").as("_tc"))
      val maxDay = perCust.agg(max("_last").as("_mx"))
      val rfm = perCust.crossJoin(broadcast(maxDay))
        .select(col("o_custkey"),
          (col("_mx") - col("_last")).as("recency"),
          col("frequency"),
          floor(col("_tc") / 100000L).cast("long").as("monetary_k"))
      // ONE driver action computes all three tercile pairs (r20, guide
      // §2.4/§2.6: the r19 shape ran THREE sequential bounds() actions —
      // ~39 driver-scheduled jobs for this query — plus a cache to make
      // the repetition affordable): the three metrics melt into one
      // (metric, v) stream, the per-metric histogram / cumulative-count
      // ≤-join / boundary aggregate run once grouped by metric, and a
      // single 3-row collect carries every boundary. Arithmetic is
      // unchanged per metric (same histogram, same cle, same
      // floor((n-1)/3)+1 ranks), so the emitted terciles are identical;
      // with only one pass left, the cache (and its session-lifetime
      // pinning) is unnecessary.
      val melted = rfm.select(explode(array(
          struct(lit("r").as("m"), col("recency").as("v")),
          struct(lit("f").as("m"), col("frequency").as("v")),
          struct(lit("m").as("m"), col("monetary_k").as("v")))).as("kv"))
        .select(col("kv.m").as("m"), col("kv.v").as("v"))
      val hist = melted.groupBy("m", "v").agg(count(lit(1)).as("cnt"))
      // two-level cumulative per metric (r20 — the q_revenue_concentration
      // restructure): super-bin prefix ≤-join over ~values/1024 rows +
      // a PARTITIONED window inside each (metric, super-bin); identical
      // exact-long cle, never values² join pairs
      val binned = hist.withColumn("_sb", floor(col("v") / 1024L).cast("long"))
      val sbTot = binned.groupBy("m", "_sb").agg(sum("cnt").as("_sc"))
      val sbPrefix = sbTot.select(col("m"), col("_sb"), col("_sc"))
        .join(sbTot.select(col("m").as("_m2"), col("_sb").as("_sb2"),
            col("_sc").as("_sc2")),
          col("_m2") === col("m") && col("_sb2") < col("_sb"), "left")
        .groupBy("m", "_sb").agg(coalesce(sum("_sc2"), lit(0L)).as("_pre"))
      val wCum = Window.partitionBy("m", "_sb").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = binned
        .withColumn("_wc", sum("cnt").over(wCum))
        .join(broadcast(sbPrefix), Seq("m", "_sb"))
        .select(col("m"), col("v"), (col("_pre") + col("_wc")).as("cle"))
      val n = rfm.agg(count(lit(1)).as("_n"))
      val boundRows = cum.crossJoin(broadcast(n))
        .groupBy("m").agg(
          min(when(col("cle") >=
            floor(lit(1.0 / 3) * (col("_n") - 1)) + 1, col("v"))).as("t1"),
          min(when(col("cle") >=
            floor(lit(2.0 / 3) * (col("_n") - 1)) + 1, col("v"))).as("t2"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // empty-orders guard (advice r20): with zero customers the melted
      // histogram has no groups and the map is empty — the final frame is
      // empty regardless of thresholds, so any bound works
      def bound(m: String): (Long, Long) =
        boundRows.getOrElse(m, (Long.MaxValue, Long.MaxValue))
      val (r1, r2) = bound("r")
      val (f1, f2) = bound("f")
      val (m1, m2) = bound("m")
      def score(c: String, t1: Long, t2: Long): org.apache.spark.sql.Column =
        when(col(c) <= t1, 1L).when(col(c) <= t2, 2L).otherwise(3L)
      rfm.select(score("recency", r1, r2).as("r_score"),
          score("frequency", f1, f2).as("f_score"),
          score("monetary_k", m1, m2).as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    },
    Some("""
      WITH pc AS (
        SELECT o_custkey,
               max(CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)) AS last_d,
               count(*) AS frequency,
               sum(CAST(floor(100 * round(o_totalprice, 2) + 0.5) AS BIGINT))
                 AS tc
        FROM orders GROUP BY o_custkey),
      rfm AS (
        SELECT o_custkey,
               (SELECT max(last_d) FROM pc) - last_d AS recency,
               frequency,
               CAST(floor(tc / 100000.0) AS BIGINT) AS monetary_k
        FROM pc),
      n AS (SELECT count(*) AS n FROM rfm),
      rb AS (
        SELECT min(v) FILTER (WHERE cle >= floor(1.0/3 * (n.n - 1)) + 1) AS t1,
               min(v) FILTER (WHERE cle >= floor(2.0/3 * (n.n - 1)) + 1) AS t2
        FROM (SELECT recency AS v,
                     count(*) OVER (ORDER BY recency
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle
              FROM rfm) CROSS JOIN n),
      fb AS (
        SELECT min(v) FILTER (WHERE cle >= floor(1.0/3 * (n.n - 1)) + 1) AS t1,
               min(v) FILTER (WHERE cle >= floor(2.0/3 * (n.n - 1)) + 1) AS t2
        FROM (SELECT frequency AS v,
                     count(*) OVER (ORDER BY frequency
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle
              FROM rfm) CROSS JOIN n),
      mb AS (
        SELECT min(v) FILTER (WHERE cle >= floor(1.0/3 * (n.n - 1)) + 1) AS t1,
               min(v) FILTER (WHERE cle >= floor(2.0/3 * (n.n - 1)) + 1) AS t2
        FROM (SELECT monetary_k AS v,
                     count(*) OVER (ORDER BY monetary_k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle
              FROM rfm) CROSS JOIN n)
      SELECT CASE WHEN recency <= rb.t1 THEN 1
                  WHEN recency <= rb.t2 THEN 2 ELSE 3 END AS r_score,
             CASE WHEN frequency <= fb.t1 THEN 1
                  WHEN frequency <= fb.t2 THEN 2 ELSE 3 END AS f_score,
             CASE WHEN monetary_k <= mb.t1 THEN 1
                  WHEN monetary_k <= mb.t2 THEN 2 ELSE 3 END AS m_score,
             count(*) AS n_customers
      FROM rfm, rb, fb, mb
      GROUP BY 1, 2, 3
      ORDER BY r_score, f_score, m_score
    """))

  /** Revenue concentration — binned Gini coefficient and
    * top-decile/median revenue share, the inequality artifact behind
    * "10% of customers drive X% of revenue". Spend is exact cents (the
    * RFM convention) BUCKETED into hundred-dollar bins before the
    * histogram: the first draft's distinct-cents histogram was
    * customer-cardinality, making the rank ≤-join customers² — the exact
    * quadratic the bench caught (4.2 s at sf0.1 and growing with the
    * square of customers); the bin domain is spend-range-bounded at any
    * corpus size. Within a bin members sit at their average rank
    * (all-integer S₂ = Σ sv·(2b+c+1), G = S₂/(n·T) − (n+1)/n — the
    * standard binned-Gini discretization) and bottom-m revenue pro-rates
    * the boundary bin; full bins contribute their exact integer sv, so
    * the one rounded addend per metric is ≤ 1 ulp — far inside the
    * 6-decimal reporting grid. */
  val qRevenueConcentration = Q("q_revenue_concentration",
    (s, dir) => {
      val perCust = t(s, dir, "orders")
        .select(col("o_custkey"),
          floor(round(col("o_totalprice"), 2) * 100 + 0.5).cast("long")
            .as("_cents"))
        .groupBy("o_custkey").agg(sum("_cents").as("v"))
        .withColumn("bin", floor(col("v") / 10000L).cast("long"))
      val hist = perCust.groupBy("bin")
        .agg(count(lit(1)).as("c"), sum("v").as("sv"))
      // two-level cumulative (r20, guide §2): the flat ≤-self-join was
      // bins² pairs — ~12K distinct bins at sf0.1 made it a 144M-row
      // join for a 12K-row cumulative (and it grows with the square of
      // the spend range). Level 1: super-bin (bin div 1024) totals,
      // ≤-joined over ~bins/1024 rows; level 2: a PARTITIONED window
      // inside each super-bin. cle(bin) = prefix(sb) + within-cum(bin)
      // — identical exact-long values, never an unpartitioned window.
      val binned = hist.withColumn("_sb", floor(col("bin") / 1024L).cast("long"))
      val sbTot = binned.groupBy("_sb").agg(sum("c").as("_sc"))
      val sbPrefix = sbTot.select(col("_sb"), col("_sc"))
        .join(sbTot.select(col("_sb").as("_sb2"), col("_sc").as("_sc2")),
          col("_sb2") < col("_sb"), "left")
        .groupBy("_sb").agg(coalesce(sum("_sc2"), lit(0L)).as("_pre"))
      val wCum = Window.partitionBy("_sb").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = binned
        .withColumn("_wc", sum("c").over(wCum))
        .join(broadcast(sbPrefix), "_sb")
        .select(col("bin"), (col("_pre") + col("_wc")).as("cle"))
      val scalars = perCust.agg(count(lit(1)).as("n"), sum("v").as("t"))
      val agg = hist.join(cum, Seq("bin"))
        .withColumn("b", col("cle") - col("c"))
        .crossJoin(broadcast(scalars))
        .agg(
          // ALL-LONG arithmetic: Spark's `/` on longs is double division
          // and these sums can exceed 2^53 where doubles drop bits while
          // DuckDB's `//` stays integer — every term here stays BIGINT
          sum(col("sv") * (lit(2L) * col("b") + col("c") + 1L)).as("_s2"),
          // bottom-(n - ceil(n/10)) / bottom-(n - ceil(n/2)) revenue,
          // pro-rated inside the boundary bin (exact-int numerators, one
          // double division per bin)
          sum(col("sv") * greatest(lit(0L),
            least(col("c"), col("n") -
              floor((col("n") + 9) / 10).cast("long") - col("b")))
            / col("c").cast("double")).as("_b10"),
          sum(col("sv") * greatest(lit(0L),
            least(col("c"), col("n") -
              floor((col("n") + 1) / 2).cast("long") - col("b")))
            / col("c").cast("double")).as("_b50"),
          first("n").as("n"), first("t").as("t"))
      agg.select(explode(array(
        struct(lit("gini").as("stat"),
          round(col("_s2") / (col("n") * col("t")).cast("double") -
            (col("n") + 1.0) / col("n"), 6).as("value")),
        struct(lit("top10_share").as("stat"),
          round((col("t") - col("_b10")) / col("t").cast("double"), 6)
            .as("value")),
        struct(lit("top50_share").as("stat"),
          round((col("t") - col("_b50")) / col("t").cast("double"), 6)
            .as("value")))).as("kv"))
        .select(col("kv.stat"), col("kv.value"))
        .orderBy("stat")
    },
    Some("""
      WITH pc AS (
        SELECT o_custkey,
               sum(CAST(floor(100 * round(o_totalprice, 2) + 0.5) AS BIGINT))
                 AS v
        FROM orders GROUP BY o_custkey),
      binned AS (
        SELECT v, CAST(floor(v / 10000.0) AS BIGINT) AS bin FROM pc),
      hist AS (
        SELECT bin, count(*) AS c, CAST(sum(v) AS BIGINT) AS sv
        FROM binned GROUP BY bin),
      cum AS (
        SELECT h.bin, CAST(sum(h2.c) AS BIGINT) - h.c AS b
        FROM hist h JOIN hist h2 ON h2.bin <= h.bin
        GROUP BY h.bin, h.c),
      sc AS (SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS t FROM pc),
      agg AS (
        SELECT CAST(sum(sv * (2 * b + c + 1)) AS BIGINT) AS s2,
               sum(sv * greatest(0, least(c,
                 sc.n - (sc.n + 9) // 10 - b)) / CAST(c AS DOUBLE)) AS b10,
               sum(sv * greatest(0, least(c,
                 sc.n - (sc.n + 1) // 2 - b)) / CAST(c AS DOUBLE)) AS b50,
               any_value(sc.n) AS n, any_value(sc.t) AS t
        FROM hist JOIN cum USING (bin) CROSS JOIN sc)
      SELECT * FROM (
        SELECT 'gini' AS stat,
               round(s2 / CAST(n * t AS DOUBLE) - (n + 1.0) / n, 6)
                 AS value FROM agg
        UNION ALL
        SELECT 'top10_share',
               round((t - b10) / CAST(t AS DOUBLE), 6) FROM agg
        UNION ALL
        SELECT 'top50_share',
               round((t - b50) / CAST(t AS DOUBLE), 6) FROM agg)
      ORDER BY stat
    """))

  /** GROUPING SETS with an asymmetric set list — the general multi-grain
    * aggregate that ROLLUP/CUBE are special cases of: one pass produces the
    * (flag, status) grain, the status-only grain, and the grand total, but
    * NOT the flag-only grain a rollup would force. `grouping()` flags
    * disambiguate aggregated-away dims from genuine nulls, composed into
    * the explicit bitmask gid = 2·g(flag) + g(status) so both engines spell
    * the same arithmetic (Spark's zero-arg grouping_id() and DuckDB's
    * GROUPING_ID have engine-specific argument conventions). Plan shape:
    * Spark expands to one Expand + hash-agg — rows × |sets| map-side, the
    * same two-phase partial agg as a plain groupBy, no extra shuffle per
    * grain. */
  val qGroupingSets = Q("q_grouping_sets",
    (s, dir) => t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg((grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gid"),
        count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first),
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT) AS gid,
             count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """))

  /** analytic-window function family beyond rank/lag: ntile quartiles,
    * percent_rank, cume_dist, first_value — one window definition, four
    * functions, deterministic tie-break on event_id */
  val qWindowFuncs = Q("q_window_funcs",
    (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      events(s, dir).where(col("event_id") < 1000)
        .select(col("event_id"), col("event_type"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          round(col("value") - first(col("value")).over(w), 4)
            .as("delta_from_min"))
        .orderBy("event_id")
    },
    Some("""
      WITH e AS (
        SELECT event_id, event_type, value FROM events WHERE event_id < 1000)
      SELECT event_id, event_type,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             round(percent_rank() OVER w, 6) AS pct_rank,
             round(cume_dist() OVER w, 6) AS cume,
             round(value - first_value(value) OVER w, 4) AS delta_from_min
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
      ORDER BY event_id
    """))

  /** JSON payload extraction (the item-codec path, SURVEY §2.4 scalar fns):
    * pull a typed field out of the free-form props JSON and aggregate it */
  val qJsonExtract = Q("q_json_extract",
    (s, dir) => events(s, dir)
      .withColumn("_k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(sum("_k").as("sum_k"),
        count(col("_k")).as("n_with_k"))
      .orderBy("event_type"),
    Some("""
      -- TRY_CAST mirrors Spark's null-on-failure cast: a non-integer k is
      -- excluded from BOTH sum_k and n_with_k in both engines.
      -- Outer CAST: DuckDB types sum(BIGINT) as HUGEINT, which the pandas
      -- comparator renders float64 and hash-mismatches against Spark's int64.
      SELECT event_type,
             CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS BIGINT) AS sum_k,
             count(*) FILTER (TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               IS NOT NULL) AS n_with_k
      FROM events
      GROUP BY event_type ORDER BY event_type
    """))

  /** array aggregation: collect_set is order-nondeterministic by contract,
    * so canonicalize with sort_array; the compared column is the
    * comma-joined string (the driver's pandas comparator cannot sort/hash
    * an array-typed column), with bins cast to long so both engines render
    * identical element text */
  val qCollectValues = Q("q_collect_values",
    (s, dir) => events(s, dir)
      .groupBy("event_type")
      .agg(
        array_join(
          sort_array(collect_set(round(col("value"), 0).cast("long"))), ",")
          .as("value_bins"),
        size(collect_set(round(col("value"), 0).cast("long"))).cast("long")
          .as("n_bins"))
      .orderBy("event_type"),
    Some("""
      SELECT event_type,
             array_to_string(list_sort(list(DISTINCT
               CAST(round(value, 0) AS BIGINT))), ',') AS value_bins,
             CAST(len(list(DISTINCT CAST(round(value, 0) AS BIGINT)))
               AS BIGINT) AS n_bins
      FROM events GROUP BY event_type ORDER BY event_type
    """))

  val all: Seq[Q] = Seq(qAsofJoin, qAsofForward, qAsofNearest, qAsofTolerance,
    qAsofAttribution,
    qSessionize, qRangeJoin, qPivot,
    qUnpivot,
    qPercentiles, qAggExtras, qHistogram, qRollup, qGroupingSets, qFunnelSteps,
    qRfmSegments, qRevenueConcentration,
    qRetentionCohorts, qEventPaths, qEventTransitions,
    qWindowFuncs, qJsonExtract, qCollectValues)
}
