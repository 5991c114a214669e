package graft.analytics

import graft.{GraftQuery, Tables}
import graft.operators.DriverLoop
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Event-sequence analytics over the events stream: ordered funnel
  * conversion, weekly cohort retention, and the event-type transition
  * matrix — the product-analytics layer over an ingest pipeline.
  *
  * Scale notes: every query reduces events to per-user aggregates FIRST
  * (one shuffle on user_id, partial-aggregated), then works on the
  * ~n_users relation; the funnel's stage joins are per-user 1-row
  * relations, the retention matrix is O(users × active-weeks), the
  * transition matrix is O(types²). No global sort except the final
  * few-row ORDER BY.
  *
  * Timestamp semantics: Tables.events normalizes both shipped ts
  * layouts to microsecond TimestampType (nanos floor to micros);
  * DuckDB reads the same files at the same precision, so strict
  * inequalities agree. */
object FunnelQueries {

  /** Ordered view→click→purchase funnel: a user converts a stage only
    * with an event STRICTLY AFTER their entry into the previous stage
    * (first view < first subsequent click < first subsequent purchase).
    * One row: stage user-counts + conversion rates. */
  val qFunnel = GraftQuery(
    "q_funnel",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      // one plan, one job: the operator's per-user stage relation
      // outer-joined to the user universe on the shared user_id shuffle
      // key, counted in a single 1-row aggregate
      val stages = graft.operators.Funnels.orderedStages(
        ev, "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      ev.select($"user_id").distinct()
        .join(stages, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_users"), count($"ts_view").as("n_viewed"),
          count($"ts_click").as("n_clicked"), count($"ts_purchase").as("n_purchased"))
        .select($"n_users", $"n_viewed", $"n_clicked", $"n_purchased",
          round($"n_viewed".cast(DoubleType) / greatest($"n_users", lit(1L)), 6)
            .as("view_rate"),
          round($"n_clicked".cast(DoubleType) / greatest($"n_viewed", lit(1L)), 6)
            .as("click_conv"),
          round($"n_purchased".cast(DoubleType) / greatest($"n_clicked", lit(1L)), 6)
            .as("purchase_conv"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      v AS (SELECT user_id, MIN(ts) AS v_ts FROM e WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
      p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
      SELECT (SELECT COUNT(DISTINCT user_id) FROM e) AS n_users,
        (SELECT COUNT(*) FROM v) AS n_viewed,
        (SELECT COUNT(*) FROM c) AS n_clicked,
        (SELECT COUNT(*) FROM p) AS n_purchased,
        ROUND(CAST((SELECT COUNT(*) FROM v) AS DOUBLE) / GREATEST((SELECT COUNT(DISTINCT user_id) FROM e), 1), 6) AS view_rate,
        ROUND(CAST((SELECT COUNT(*) FROM c) AS DOUBLE) / GREATEST((SELECT COUNT(*) FROM v), 1), 6) AS click_conv,
        ROUND(CAST((SELECT COUNT(*) FROM p) AS DOUBLE) / GREATEST((SELECT COUNT(*) FROM c), 1), 6) AS purchase_conv""")
  )

  /** Weekly cohort retention: users grouped by first-activity week,
    * counted distinct per (cohort_week, weeks-since-cohort offset). */
  val qRetention = GraftQuery(
    "q_retention",
    (s, dir) => {
      import s.implicits._
      val wk = floor(datediff(to_date($"ts"), lit("2024-01-01").cast("date")) / 7)
      val uw = Tables.events(s, dir)
        .select($"user_id", wk.cast("long").as("week"))
        .distinct()
      val first = uw.groupBy($"user_id").agg(min($"week").as("cohort_week"))
      uw.join(first, "user_id")
        .groupBy($"cohort_week", ($"week" - $"cohort_week").as("week_offset"))
        .agg(countDistinct($"user_id").as("n_active"))
        .orderBy($"cohort_week", $"week_offset")
    },
    Some("""WITH uw AS (SELECT DISTINCT user_id,
        CAST(FLOOR(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS week
      FROM events),
      first AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1)
      SELECT f.cohort_week, u.week - f.cohort_week AS week_offset,
        COUNT(DISTINCT u.user_id) AS n_active
      FROM uw u JOIN first f ON u.user_id = f.user_id
      GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** Event-type transition matrix: per user, consecutive event pairs in
    * (ts, event_id) order; counts and per-source probabilities. The lead
    * window partitions by user (bounded rows per partition); the final
    * matrix is O(types²). */
  val qTransitions = GraftQuery(
    "q_transitions",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val pairs = Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("next_type", lead($"event_type", 1).over(w))
        .filter($"next_type".isNotNull)
        .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
        .agg(count(lit(1)).as("n"))
      val wf = Window.partitionBy($"from_type")
      pairs
        .withColumn("p", round($"n".cast(DoubleType) / sum($"n").over(wf), 6))
        .orderBy($"from_type", $"to_type")
    },
    Some("""WITH seq AS (SELECT user_id, event_type,
        LEAD(event_type) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
      FROM events),
      m AS (SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
        ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6) AS p
      FROM m ORDER BY from_type, to_type""")
  )

  /** First-touch / last-touch conversion attribution: every purchase
    * credits the first (resp. most recent) preceding non-purchase event
    * in the user's timeline; credit and DECIMAL-exact revenue roll up
    * per (model, touch type), purchases with no prior touch land on
    * 'none'. The classic inequality-join formulation ("latest touch
    * before each conversion") is quadratic per user — here both models
    * are ONE shared window frame (first/last IGNORE NULLS over the
    * user-partitioned timeline), so the cost is the per-user sort the
    * sessionizer already pays, and the rollup key space is
    * models × touch types. */
  val qAttribution = GraftQuery(
    "q_attribution",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when($"event_type" =!= "purchase", $"event_type")
      // both window expressions in ONE projection → one Window operator
      // (chained withColumn would stack two same-spec Windows with a
      // Project between them, which CollapseWindow cannot merge)
      val conv = Tables.events(s, dir)
        .select($"event_type", $"value",
          coalesce(first(touch, ignoreNulls = true).over(w), lit("none"))
            .as("first_touch"),
          coalesce(last(touch, ignoreNulls = true).over(w), lit("none"))
            .as("last_touch"))
        .filter($"event_type" === "purchase")
      // ONE pass over the windowed purchases: explode each conversion
      // into its two (model, touch) credits and aggregate once — a
      // union of per-model rollups would inline the corpus subtree
      // twice (two scans, two window sorts) under Catalyst
      conv.select(explode(array(
          struct(lit("first").as("model"), $"first_touch".as("touch")),
          struct(lit("last").as("model"), $"last_touch".as("touch")))).as("mt"),
          $"value")
        .groupBy($"mt.model".as("model"), $"mt.touch".as("touch"))
        .agg(count(lit(1)).as("conversions"),
          round(sum($"value".cast(DecimalType(18, 2))).cast(DoubleType), 2)
            .as("revenue"))
        .orderBy($"model", $"touch")
    },
    Some("""WITH t AS (SELECT user_id, ts, event_id, event_type, value,
        CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
      FROM events),
      a AS (SELECT event_type, value,
        COALESCE(LAST_VALUE(touch IGNORE NULLS) OVER w, 'none') AS last_touch,
        COALESCE(FIRST_VALUE(touch IGNORE NULLS) OVER w, 'none') AS first_touch
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      c AS (SELECT * FROM a WHERE event_type = 'purchase')
      SELECT * FROM (
        SELECT 'first' AS model, first_touch AS touch, COUNT(*) AS conversions,
          ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        FROM c GROUP BY 2
        UNION ALL
        SELECT 'last', last_touch, COUNT(*),
          ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        FROM c GROUP BY 2)
      ORDER BY model, touch""")
  )

  /** Top conversion paths: the most common event-type sequences leading
    * to a user's FIRST purchase (path capped at the last 5 pre-purchase
    * steps; users who never purchase are out of scope). Ordering inside
    * a user is pinned by sort_array over (ts, event_id) structs — a
    * distributed-safe total order; collect_list alone would be
    * partition-order-dependent and unverifiable. Per-user data volume
    * bounds the sort; the path rollup key space is the (tiny) set of
    * observed ≤5-step sequences. */
  val qConversionPaths = GraftQuery(
    "q_conversion_paths",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val firstPurchase = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(min(struct($"ts", $"event_id")).as("fp"))
      ev.join(firstPurchase, "user_id")
        .filter(struct($"ts", $"event_id") < $"fp")
        .groupBy($"user_id")
        .agg(sort_array(collect_list(struct($"ts", $"event_id", $"event_type")))
          .as("steps"))
        .withColumn("types", transform($"steps", x => x("event_type")))
        // explicit short-array guard: negative-start slice semantics on
        // arrays shorter than the window differ across engines
        .select($"user_id", concat_ws(">",
          when(size($"types") <= 5, $"types")
            .otherwise(slice($"types", lit(-5), lit(5)))).as("path"))
        .groupBy($"path")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"n_users".desc, $"path")
        .limit(25)
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        FROM events),
      fp AS (SELECT user_id, MIN(ROW(ts, event_id)) AS fp
        FROM ev WHERE event_type = 'purchase' GROUP BY user_id),
      pre AS (SELECT e.user_id, e.ts, e.event_id, e.event_type
        FROM ev e JOIN fp ON e.user_id = fp.user_id
        WHERE ROW(e.ts, e.event_id) < fp.fp),
      paths AS (SELECT user_id,
          CASE WHEN LEN(l) <= 5 THEN array_to_string(l, '>')
               ELSE array_to_string(l[-5:], '>') END AS path
        FROM (SELECT user_id, list(event_type ORDER BY ts, event_id) AS l
          FROM pre GROUP BY user_id))
      SELECT path, COUNT(*) AS n_users FROM paths
      GROUP BY path ORDER BY n_users DESC, path LIMIT 25""")
  )

  /** Per-user PATH-LENGTH distribution — the row-listing endpoint's
    * aggregate twin (dashboard/webapp/views.py:249-278 serves the
    * ordered per-entity event projection; this reports how long those
    * pre-conversion listings are): for each converted user, the number
    * of events strictly before the first purchase (same `pre` relation
    * as q_conversion_paths), rolled into a length → user-count
    * distribution with cumulative share. Scale: one user-keyed shuffle,
    * then the distribution relation is ≤ distinct-length rows (domain-
    * sized), so the ordered cumulative window and the 1-row total
    * broadcast are driver-trivial. */
  val qFunnelPathLengths = GraftQuery(
    "q_funnel_path_lengths",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val firstPurchase = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(min(struct($"ts", $"event_id")).as("fp"))
      val lens = ev.join(firstPurchase, "user_id")
        .filter(struct($"ts", $"event_id") < $"fp")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("path_len"))
      val dist = lens.groupBy($"path_len").agg(count(lit(1)).as("n_users"))
      val tot = dist.agg(sum($"n_users").as("tot"))
      val w = org.apache.spark.sql.expressions.Window.orderBy($"path_len")
      dist.crossJoin(broadcast(tot))
        .withColumn("cum_users", sum($"n_users").over(w))
        .select($"path_len", $"n_users", $"cum_users",
          round($"cum_users".cast("double") / $"tot", 6).as("cum_share"))
        .orderBy($"path_len")
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        FROM events),
      fp AS (SELECT user_id, MIN(ROW(ts, event_id)) AS fp
        FROM ev WHERE event_type = 'purchase' GROUP BY user_id),
      lens AS (SELECT e.user_id, COUNT(*) AS path_len
        FROM ev e JOIN fp ON e.user_id = fp.user_id
        WHERE ROW(e.ts, e.event_id) < fp.fp
        GROUP BY e.user_id),
      d AS (SELECT path_len, COUNT(*) AS n_users FROM lens GROUP BY path_len),
      t AS (SELECT SUM(n_users) AS tot FROM d)
      SELECT path_len, n_users,
        CAST(SUM(n_users) OVER (ORDER BY path_len) AS BIGINT) AS cum_users,
        ROUND(CAST(SUM(n_users) OVER (ORDER BY path_len) AS DOUBLE) / tot, 6) AS cum_share
      FROM d, t ORDER BY path_len""")
  )

  /** Conversion latency distribution: per user, seconds from first view
    * to the first purchase STRICTLY after it; one row of exact quantiles
    * over the converted users. Scale: one user-keyed shuffle per side,
    * then the quantile aggregate runs on the ~n_users relation — latency
    * is integer-micros subtraction (exact in both engines) divided by
    * 1e6, so the oracle matches bit for bit. */
  val qConversionLatency = GraftQuery(
    "q_conversion_latency",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val firstView = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("v_ts"))
      val lat = ev.filter($"event_type" === "purchase")
        .join(firstView, "user_id")
        .filter($"ts" > $"v_ts")
        .groupBy($"user_id", $"v_ts").agg(min($"ts").as("p_ts"))
        .select(((unix_micros($"p_ts") - unix_micros($"v_ts")) / lit(1000000.0))
          .as("sec"))
      lat.agg(count(lit(1)).as("n_converted"),
          graft.expressions.ExactQuantiles.quantiles(
            $"sec", Seq(0.25, 0.5, 0.75, 0.9)).as("qs"))
        .select($"n_converted",
          round(element_at($"qs", 1), 6).as("p25"),
          round(element_at($"qs", 2), 6).as("p50"),
          round(element_at($"qs", 3), 6).as("p75"),
          round(element_at($"qs", 4), 6).as("p90"))
    },
    Some("""WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      p AS (SELECT e.user_id, v.v_ts, MIN(e.ts) AS p_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts > v.v_ts
        GROUP BY e.user_id, v.v_ts),
      l AS (SELECT (epoch_us(p_ts) - epoch_us(v_ts)) / 1000000.0 AS sec FROM p)
      SELECT COUNT(*) AS n_converted,
        ROUND(QUANTILE_CONT(sec, 0.25), 6) AS p25,
        ROUND(QUANTILE_CONT(sec, 0.5), 6) AS p50,
        ROUND(QUANTILE_CONT(sec, 0.75), 6) AS p75,
        ROUND(QUANTILE_CONT(sec, 0.9), 6) AS p90
      FROM l""")
  )

  /** Kaplan-Meier survival curve for time-to-first-purchase, day
    * granularity: each user enters at their first event; the "event" is
    * their first purchase at t0 or later, users with no purchase are
    * RIGHT-CENSORED at their last event. Per day t: d (events), c
    * (censored), the risk set n = everyone whose event/censor day >= t,
    * and S(t) = prod_{t' <= t, d > 0}(1 - d/n) — the churn/retention
    * estimator that, unlike a naive conversion rate, is unbiased under
    * censoring.
    *
    * Scale: one user-keyed shuffle builds the per-user (day, is_event)
    * relation; everything after runs on the day-level rollup (≤ the
    * observation window in days, never corpus-sized). Cross-engine FP
    * discipline: each log-term is cast to DECIMAL(18,12) (kills libm
    * last-ulp drift), the cumulative sum over the day order is then
    * exact, and one EXP at the end is rounded to 6 — same trick as
    * q_mutual_info. A day where the whole risk set converts (d = n)
    * sends S to exactly 0 from then on (LN(0) is engine-hostile, so the
    * zero is carried by a boolean flag, not by -inf arithmetic). */
  val qSurvival = GraftQuery(
    "q_survival",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val ev = Tables.events(s, dir)
      val u = ev.groupBy($"user_id")
        .agg(min($"ts").as("t0"), max($"ts").as("tl"))
      val p = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id").agg(min($"ts").as("tp"))
      val perUser = u.join(p, Seq("user_id"), "left")
        .select(
          when($"tp".isNotNull,
              floor((unix_micros($"tp") - unix_micros($"t0")) / lit(86400000000L)))
            .otherwise(
              floor((unix_micros($"tl") - unix_micros($"t0")) / lit(86400000000L)))
            .as("day"),
          when($"tp".isNotNull, lit(1L)).otherwise(lit(0L)).as("ev"))
      val byDay = perUser.groupBy($"day")
        .agg(sum($"ev").as("d"), sum(lit(1L) - $"ev").as("c"))
      val wAll = Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // risk set as the REVERSED cumulative sum (everyone whose event or
      // censor day is >= t) — no user-count total, so the corpus subtree
      // is never referenced twice. The global (un-partitioned) windows
      // run on the DAY-level rollup — bounded by the observation window,
      // never corpus-sized.
      val wFwd = Window.orderBy($"day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      byDay
        .withColumn("n_risk", sum($"d" + $"c").over(wFwd))
        .withColumn("term",
          when($"d" === lit(0L), lit(BigDecimal(0)).cast(DecimalType(18, 12)))
            .when($"d" < $"n_risk",
              log(lit(1.0) - $"d".cast(DoubleType) / $"n_risk".cast(DoubleType))
                .cast(DecimalType(18, 12)))
            .otherwise(lit(null).cast(DecimalType(18, 12))))
        .withColumn("dead",
          max(when($"d" === $"n_risk", lit(1L)).otherwise(lit(0L))).over(wAll))
        .withColumn("survival",
          when($"dead" === lit(1L), lit(0.0))
            .otherwise(round(exp(sum($"term").over(wAll).cast(DoubleType)), 6)))
        .select($"day", $"n_risk", $"d".as("n_events"), $"c".as("n_censored"),
          $"survival")
        .orderBy($"day")
    },
    Some("""WITH u AS (SELECT user_id, MIN(ts) AS t0, MAX(ts) AS tl
        FROM events GROUP BY user_id),
      p AS (SELECT user_id, MIN(ts) AS tp
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      pu AS (SELECT
          CAST(CASE WHEN p.tp IS NOT NULL
            THEN FLOOR((epoch_us(p.tp) - epoch_us(u.t0)) / 86400000000)
            ELSE FLOOR((epoch_us(u.tl) - epoch_us(u.t0)) / 86400000000) END
            AS BIGINT) AS day,
          CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM u LEFT JOIN p ON u.user_id = p.user_id),
      bd AS (SELECT day, CAST(SUM(ev) AS BIGINT) AS d,
          CAST(SUM(1 - ev) AS BIGINT) AS c FROM pu GROUP BY day),
      r AS (SELECT day, d, c,
          CAST(SUM(d + c) OVER (ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
        FROM bd),
      t AS (SELECT day, d, c, n_risk,
          CASE WHEN d = 0 THEN CAST(0 AS DECIMAL(18,12))
            WHEN d < n_risk THEN CAST(LN(1 - CAST(d AS DOUBLE) / n_risk) AS DECIMAL(18,12))
            ELSE NULL END AS term,
          MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        FROM r)
      SELECT day, n_risk, d AS n_events, c AS n_censored,
        CASE WHEN dead = 1 THEN 0.0
          ELSE ROUND(EXP(CAST(SUM(term) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6) END
          AS survival
      FROM t ORDER BY day""")
  )

  /** Two-arm experiment readout: users split deterministically by
    * user_id parity (the portable stand-in for a bucketing hash),
    * conversion = "first purchase within 24h of first activity" (a
    * latency-bounded goal — mere eventual purchase saturates at 100%
    * here and degenerates the statistic). One row: per-arm counts and
    * rates, the pooled two-proportion z statistic, and Wilson 95% score
    * intervals per arm (the interval that stays sane at small n and
    * extreme rates, unlike the naive Wald CI). A saturated pooled rate
    * (p̂ ∈ {0, 1}) yields z = NULL in both engines, never a
    * divide-by-zero.
    *
    * Scale: ONE user-keyed shuffle reduces events to (user, arm,
    * converted); the z/CI arithmetic runs on a 1-row aggregate of exact
    * integer counts with the identical IEEE expression tree in both
    * engines, rounded to 6. */
  val qAbTest = GraftQuery(
    "q_ab_test",
    (s, dir) => {
      import s.implicits._
      val perUser = Tables.events(s, dir)
        .groupBy($"user_id")
        .agg(min($"ts").as("t0"),
          min(when($"event_type" === "purchase", $"ts")).as("tp"))
        .select(pmod($"user_id", lit(2L)).as("arm"),
          when($"tp".isNotNull &&
              unix_micros($"tp") - unix_micros($"t0") <= lit(86400000000L), 1L)
            .otherwise(0L).as("conv"))
      val m = perUser.agg(
        sum(when($"arm" === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when($"arm" === 0L, $"conv").otherwise(0L)).as("c_a"),
        sum(when($"arm" === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when($"arm" === 1L, $"conv").otherwise(0L)).as("c_b"))
      def rate(c: String, n: String) =
        col(c).cast(DoubleType) / col(n).cast(DoubleType)
      // Wilson 95% score interval at z = 1.96: (p + z²/2n ± z·sqrt(p(1−p)/n
      // + z²/4n²)) / (1 + z²/n)
      def wilson(c: String, n: String, lo: Boolean) = {
        val z2 = lit(1.96 * 1.96)
        val p = rate(c, n)
        val nn = col(n).cast(DoubleType)
        val center = p + z2 / (lit(2.0) * nn)
        val spread = lit(1.96) * sqrt(p * (lit(1.0) - p) / nn +
          z2 / (lit(4.0) * nn * nn))
        round((if (lo) center - spread else center + spread) /
          (lit(1.0) + z2 / nn), 6)
      }
      // an EMPTY arm (every user on one parity — tiny or adversarial
      // splits) nulls out that arm's rate/CI and the z statistic rather
      // than producing 0/0 NaNs with engine-divergent semantics
      m.select($"n_a", $"c_a", $"n_b", $"c_b",
        when($"n_a" > 0, round(rate("c_a", "n_a"), 6)).as("rate_a"),
        when($"n_b" > 0, round(rate("c_b", "n_b"), 6)).as("rate_b"),
        when($"n_a" > 0 && $"n_b" > 0 &&
            $"c_a" + $"c_b" > 0 && $"c_a" + $"c_b" < $"n_a" + $"n_b",
          round((rate("c_b", "n_b") - rate("c_a", "n_a")) /
            sqrt((($"c_a" + $"c_b").cast(DoubleType) / ($"n_a" + $"n_b").cast(DoubleType)) *
              (lit(1.0) - ($"c_a" + $"c_b").cast(DoubleType) / ($"n_a" + $"n_b").cast(DoubleType)) *
              (lit(1.0) / $"n_a".cast(DoubleType) + lit(1.0) / $"n_b".cast(DoubleType))), 6))
          .as("z_stat"),
        when($"n_a" > 0, wilson("c_a", "n_a", lo = true)).as("ci_a_lo"),
        when($"n_a" > 0, wilson("c_a", "n_a", lo = false)).as("ci_a_hi"),
        when($"n_b" > 0, wilson("c_b", "n_b", lo = true)).as("ci_b_lo"),
        when($"n_b" > 0, wilson("c_b", "n_b", lo = false)).as("ci_b_hi"))
    },
    Some("""WITH pu0 AS (SELECT user_id, MIN(ts) AS t0,
          MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        FROM events GROUP BY user_id),
      pu AS (SELECT user_id % 2 AS arm,
          CASE WHEN tp IS NOT NULL
            AND epoch_us(tp) - epoch_us(t0) <= 86400000000
            THEN 1 ELSE 0 END AS conv
        FROM pu0),
      m AS (SELECT
          CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
          CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
        FROM pu)
      SELECT n_a, c_a, n_b, c_b,
        CASE WHEN n_a > 0 THEN
          ROUND(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) END AS rate_a,
        CASE WHEN n_b > 0 THEN
          ROUND(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) END AS rate_b,
        CASE WHEN n_a > 0 AND n_b > 0
          AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
          ROUND((CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)
               - CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)) /
            SQRT((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
              (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
              (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) END AS z_stat,
        CASE WHEN n_a > 0 THEN
          ROUND((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) + (1.96 * 1.96) / (2.0 * CAST(n_a AS DOUBLE))
             - 1.96 * SQRT(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) * (1.0 - CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / CAST(n_a AS DOUBLE)
               + (1.96 * 1.96) / (4.0 * CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))))
          / (1.0 + (1.96 * 1.96) / CAST(n_a AS DOUBLE)), 6) END AS ci_a_lo,
        CASE WHEN n_a > 0 THEN
          ROUND((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) + (1.96 * 1.96) / (2.0 * CAST(n_a AS DOUBLE))
             + 1.96 * SQRT(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) * (1.0 - CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / CAST(n_a AS DOUBLE)
               + (1.96 * 1.96) / (4.0 * CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))))
          / (1.0 + (1.96 * 1.96) / CAST(n_a AS DOUBLE)), 6) END AS ci_a_hi,
        CASE WHEN n_b > 0 THEN
          ROUND((CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) + (1.96 * 1.96) / (2.0 * CAST(n_b AS DOUBLE))
             - 1.96 * SQRT(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) * (1.0 - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / CAST(n_b AS DOUBLE)
               + (1.96 * 1.96) / (4.0 * CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))))
          / (1.0 + (1.96 * 1.96) / CAST(n_b AS DOUBLE)), 6) END AS ci_b_lo,
        CASE WHEN n_b > 0 THEN
          ROUND((CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) + (1.96 * 1.96) / (2.0 * CAST(n_b AS DOUBLE))
             + 1.96 * SQRT(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) * (1.0 - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / CAST(n_b AS DOUBLE)
               + (1.96 * 1.96) / (4.0 * CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))))
          / (1.0 + (1.96 * 1.96) / CAST(n_b AS DOUBLE)), 6) END AS ci_b_hi
      FROM m""")
  )

  /** Fixed-point rounds for q_markov_attribution: partial absorption
    * probabilities after this many steps. Identical in both engines by
    * integer construction; the geometric tail beyond 12 steps sits below
    * the 1e-6 output rounding for these journey lengths. */
  private val MkRounds = 12

  /** Markov-chain attribution with REMOVAL EFFECTS — the
    * data-driven alternative to first/last-touch (q_attribution): user
    * journeys become a first-order Markov chain over touch states
    * (start → touches → conversion/null), and each channel's credit is
    * how much the chain's start→conversion absorption probability DROPS
    * when that channel is deleted from the graph (its edges removed,
    * their mass falling through to null), normalized across channels.
    *
    * Engine-exact by the q_pagerank discipline: transition shares are
    * integer ppm (n·1e6 DIV out), absorption runs [[MkRounds]] integer
    * fixed-point rounds at 1e12 scale with per-term DIV, and ALL removal
    * variants iterate together as one (removed, state)-keyed relation —
    * the base chain rides along as removed = '__none__'. Monotonicity
    * from p₀ = 0 makes every removal effect provably ≥ 0 at any horizon.
    *
    * Scale: journeys truncate at the first purchase via one user-keyed
    * window; the transition rollup is O(states²) — domain-sized, as is
    * everything after (the variant relation is (channels+1) × states
    * rows; every join side broadcasts). */
  /** q_markov_attribution's engine body, factored so the spec can pin
    * the two removal-effect-loop paths equal (gated by
    * [[graft.operators.DriverLoop]]). */
  private[graft] def markovAttributionFrame(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    locally {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
      // first purchase per user, by the (ts, event_id) total order
      val firstP = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(min(struct($"ts", $"event_id")).as("fp"))
      val kept = ev.join(firstP, Seq("user_id"), "left")
        .filter($"fp".isNull || struct($"ts", $"event_id") <= $"fp")
        .withColumn("state",
          when($"event_type" === "purchase", lit("__conv__"))
            .otherwise($"event_type"))
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val seq = kept
        .withColumn("next", lead($"state", 1).over(w))
        .withColumn("rn", row_number().over(w))
      val edges = seq.filter($"next".isNotNull)
          .select($"state".as("src"), $"next".as("dst"))
        .unionAll(seq.filter($"rn" === 1)
          .select(lit("__start__").as("src"), $"state".as("dst")))
        .unionAll(seq.filter($"next".isNull && $"fp".isNull)
          .select($"state".as("src"), lit("__null__").as("dst")))
        .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
      // the transition matrix is O(states²) — MATERIALIZE it (and the
      // derived variant relations) so the corpus-sized journey subtree
      // appears in NO loop plan, and cut each round's lineage: an
      // unmaterialized 12-round nest re-plans a quadratically growing
      // tree (measured 54 s at sf0.1; checkpointed: ~2 s)
      val e = edges.localCheckpoint()
      // Domain-sized chains take the 12 rounds in driver maps — the
      // DriverLoop routing discipline applied to the
      // removal-effect loop: the corpus passes (journey window, edge
      // rollup) stay distributed and end at the checkpoint above; the
      // fixed point then runs over (variants × edges) integer state
      // identical to the distributed rounds (each term is
      // share·value DIV 1e6 per edge, Long addition commutes). Gate on
      // the MATERIALIZED variant surface so an adversarial state domain
      // still routes to the distributed loop below.
      val eCnt = e.count()
      val driverResult: Option[org.apache.spark.sql.DataFrame] = if (eCnt <= DriverLoop.maxRows) {
        val rows = e.collect() // (src, dst, n)
        val outw = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { r =>
          outw.update(r.getString(0), outw.getOrElse(r.getString(0), 0L) + r.getLong(2))
        }
        val states = rows.map(_.getString(0)).distinct
        val channels = states.filter(_ != "__start__").sorted
        val variants = channels :+ "__none__"
        if (variants.length.toLong * eCnt <= DriverLoop.maxRows) {
          val redges = for {
            v <- variants
            r <- rows
            src = r.getString(0); dst = r.getString(1)
            if src != v && dst != v
          } yield (v, src, dst, r.getLong(2) * 1000000L / outw(src))
          var p = scala.collection.mutable.HashMap.empty[(String, String), Long]
          for (_ <- 1 to MkRounds) {
            val contrib = scala.collection.mutable.HashMap.empty[(String, String), Long]
            redges.foreach { case (v, src, dst, share) =>
              val value =
                if (dst == "__conv__") 1000000000000L
                else if (dst == "__null__") 0L
                else p.getOrElse((v, dst), 0L)
              val k = (v, src)
              contrib.update(k, contrib.getOrElse(k, 0L) + share * value / 1000000L)
            }
            p = contrib
          }
          val outRows: Seq[org.apache.spark.sql.Row] =
            if (!states.contains("__start__")) Nil
            else {
              val basePv = p.getOrElse(("__none__", "__start__"), 0L)
              val rem = channels.map(c => (c, basePv,
                basePv - p.getOrElse((c, "__start__"), 0L)))
              val t = rem.map(_._3).sum
              rem.map { case (c, b, rf) => org.apache.spark.sql.Row(c, b, rf, t) }
            }
          import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
          Some(s.createDataFrame(java.util.Arrays.asList(outRows: _*),
              StructType(Seq(
                StructField("channel", StringType, nullable = false),
                StructField("base_p", LongType, nullable = false),
                StructField("removal_fp", LongType, nullable = false),
                StructField("t", LongType, nullable = false))))
            .select($"channel",
              round($"base_p".cast(DoubleType) / lit(1000000000000.0), 6)
                .as("conv_prob"),
              round($"removal_fp".cast(DoubleType) / lit(1000000000000.0), 6)
                .as("removal_effect"),
              when($"t" > 0,
                round($"removal_fp".cast(DoubleType) / $"t".cast(DoubleType), 6))
                .as("attribution"))
            .orderBy($"channel"))
        } else None
      } else None
      driverResult.getOrElse {
      val out = e.groupBy($"src").agg(sum($"n").as("out"))
      val states = e.select($"src".as("s")).distinct()
      val variants = states.filter($"s" =!= "__start__")
        .select($"s".as("removed"))
        .unionAll(e.sparkSession.range(1).select(lit("__none__").as("removed")))
      val redges = variants
        .join(e, e("src") =!= variants("removed") && e("dst") =!= variants("removed"))
        .join(out, "src")
        .select($"removed", $"src", $"dst",
          expr("n * 1000000 DIV out").as("share_ppm"))
        .localCheckpoint()
      val spine = variants.crossJoin(states).select($"removed", $"s")
        .localCheckpoint()
      var p = spine.withColumn("p", lit(0L))
      for (_ <- 1 to MkRounds) {
        val contrib = redges
          .join(p.select($"removed", $"s".as("dst"), $"p".as("pv")),
            Seq("removed", "dst"), "left")
          .select($"removed", $"src",
            expr("""share_ppm * (CASE WHEN dst = '__conv__' THEN 1000000000000
                WHEN dst = '__null__' THEN 0
                ELSE COALESCE(pv, 0) END) DIV 1000000""").as("term"))
          .groupBy($"removed", $"src").agg(sum($"term").as("contrib"))
        p = spine.join(contrib,
            spine("removed") === contrib("removed") && spine("s") === contrib("src"),
            "left")
          .select(spine("removed"), spine("s"),
            coalesce($"contrib", lit(0L)).as("p"))
          .localCheckpoint()
      }
      val atStart = p.filter($"s" === "__start__")
      val base = atStart.filter($"removed" === "__none__")
        .select($"p".as("base_p"))
      val rem = atStart.filter($"removed" =!= "__none__")
        .crossJoin(broadcast(base))
        .select($"removed".as("channel"), $"base_p",
          ($"base_p" - $"p").as("removal_fp"))
      val tot = rem.agg(sum($"removal_fp").as("t"))
      rem.crossJoin(broadcast(tot))
        .select($"channel",
          round($"base_p".cast(DoubleType) / lit(1000000000000.0), 6)
            .as("conv_prob"),
          round($"removal_fp".cast(DoubleType) / lit(1000000000000.0), 6)
            .as("removal_effect"),
          when($"t" > 0,
            round($"removal_fp".cast(DoubleType) / $"t".cast(DoubleType), 6))
            .as("attribution"))
        .orderBy($"channel")
      }
    }
  }

  val qMarkovAttribution = GraftQuery(
    "q_markov_attribution",
    (s, dir) => markovAttributionFrame(s, dir),
    Some {
      val rounds = (1 to MkRounds).map { i =>
        val prev = i - 1
        s"""p$i AS MATERIALIZED (
          SELECT sp.removed, sp.s, CAST(COALESCE(SUM(r.share_ppm *
              (CASE WHEN r.dst = '__conv__' THEN 1000000000000
                WHEN r.dst = '__null__' THEN 0
                ELSE COALESCE(pp.p, 0) END) // 1000000), 0) AS BIGINT) AS p
          FROM spine sp
          LEFT JOIN redges r ON r.removed = sp.removed AND r.src = sp.s
          LEFT JOIN p$prev pp ON pp.removed = r.removed AND pp.s = r.dst
          GROUP BY sp.removed, sp.s)"""
      }.mkString(",\n      ")
      s"""WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
      fp AS (SELECT user_id, ts, event_id FROM (
          SELECT user_id, ts, event_id,
            ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM ev WHERE event_type = 'purchase') WHERE rn = 1),
      kept AS (SELECT e.user_id, e.ts, e.event_id,
          CASE WHEN e.event_type = 'purchase' THEN '__conv__'
            ELSE e.event_type END AS state,
          fp.ts AS fpts
        FROM ev e LEFT JOIN fp ON e.user_id = fp.user_id
        WHERE fp.ts IS NULL OR e.ts < fp.ts
          OR (e.ts = fp.ts AND e.event_id <= fp.event_id)),
      seq AS (SELECT user_id, state, fpts,
          LEAD(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM kept),
      edges AS MATERIALIZED (SELECT src, dst, COUNT(*) AS n FROM (
          SELECT state AS src, next AS dst FROM seq WHERE next IS NOT NULL
          UNION ALL
          SELECT '__start__', state FROM seq WHERE rn = 1
          UNION ALL
          SELECT state, '__null__' FROM seq WHERE next IS NULL AND fpts IS NULL)
        GROUP BY src, dst),
      outd AS (SELECT src, CAST(SUM(n) AS BIGINT) AS outn FROM edges GROUP BY src),
      states AS (SELECT DISTINCT src AS s FROM edges),
      variants AS (SELECT s AS removed FROM states WHERE s <> '__start__'
        UNION ALL SELECT '__none__'),
      redges AS MATERIALIZED (SELECT v.removed, e.src, e.dst,
          e.n * 1000000 // o.outn AS share_ppm
        FROM variants v
        JOIN edges e ON e.src <> v.removed AND e.dst <> v.removed
        JOIN outd o ON o.src = e.src),
      spine AS MATERIALIZED (SELECT removed, s FROM variants CROSS JOIN states),
      p0 AS (SELECT removed, s, CAST(0 AS BIGINT) AS p FROM spine),
      $rounds,
      base AS (SELECT p AS base_p FROM p$MkRounds
        WHERE removed = '__none__' AND s = '__start__'),
      rem AS (SELECT removed AS channel, base_p, base_p - p AS removal_fp
        FROM p$MkRounds, base WHERE s = '__start__' AND removed <> '__none__'),
      tot AS (SELECT CAST(SUM(removal_fp) AS BIGINT) AS t FROM rem)
      SELECT channel,
        ROUND(CAST(base_p AS DOUBLE) / 1000000000000.0, 6) AS conv_prob,
        ROUND(CAST(removal_fp AS DOUBLE) / 1000000000000.0, 6) AS removal_effect,
        CASE WHEN t > 0 THEN
          ROUND(CAST(removal_fp AS DOUBLE) / CAST(t AS DOUBLE), 6) END AS attribution
      FROM rem, tot ORDER BY channel"""
    }
  )

  /** Cohort LTV curve: cumulative purchase revenue per (first-activity
    * week cohort, weeks-since-cohort offset), divided by cohort size —
    * the lifetime-value complement of q_retention's activity matrix.
    * Revenue stays DECIMAL-exact through the cumulative window; the
    * per-user LTV divides by FLOOR-cents (half-cent ROUND boundaries
    * diverge across engines — the q_rfm lesson). Scale: one user-keyed
    * reduction for cohorts, one (cohort, offset) rollup, cumulative
    * window over that tiny matrix. */
  val qCohortLtv = GraftQuery(
    "q_cohort_ltv",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val wk = floor(datediff(to_date($"ts"), lit("2024-01-01").cast("date")) / 7)
      val ev = Tables.events(s, dir).select($"user_id", $"ts",
        $"event_type", $"value", wk.cast("long").as("week"))
      val cohort = ev.groupBy($"user_id").agg(min($"week").as("cohort_week"))
      val c = graft.operators.Caches.register(cohort)
      val sizes = c.groupBy($"cohort_week").agg(count(lit(1)).as("n_cohort"))
      val rev = ev.filter($"event_type" === "purchase")
        .join(c, "user_id")
        .groupBy($"cohort_week", ($"week" - $"cohort_week").as("week_offset"))
        .agg(sum($"value".cast(DecimalType(18, 2))).as("rev"))
      val wCum = Window.partitionBy($"cohort_week").orderBy($"week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
      rev
        .withColumn("cum_rev", sum($"rev").over(wCum))
        .join(broadcast(sizes), "cohort_week")
        .select($"cohort_week", $"week_offset", $"n_cohort",
          $"cum_rev".cast(DoubleType).as("cum_revenue"),
          (expr("CAST(CAST(cum_rev * 100 AS DECIMAL(38,0)) DIV n_cohort AS BIGINT)")
            / lit(100.0)).as("ltv_per_user"))
        .orderBy($"cohort_week", $"week_offset")
    },
    Some("""WITH ev AS (SELECT user_id, event_type, value,
        CAST(FLOOR(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS week
      FROM events),
      cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id),
      sizes AS (SELECT cohort_week, COUNT(*) AS n_cohort FROM cohort GROUP BY 1),
      rev AS (SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
          SUM(CAST(e.value AS DECIMAL(18,2))) AS rev
        FROM ev e JOIN cohort c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' GROUP BY 1, 2),
      cum AS (SELECT cohort_week, week_offset,
          SUM(rev) OVER (PARTITION BY cohort_week ORDER BY week_offset
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        FROM rev)
      SELECT m.cohort_week, m.week_offset, s.n_cohort,
        CAST(m.cum_rev AS DOUBLE) AS cum_revenue,
        CAST(CAST(m.cum_rev * 100 AS HUGEINT) // s.n_cohort AS BIGINT) / 100.0
          AS ltv_per_user
      FROM cum m JOIN sizes s ON m.cohort_week = s.cohort_week
      ORDER BY m.cohort_week, m.week_offset""")
  )

  /** Difference-in-differences: per-user purchase counts in an early vs
    * late period (first vs second half of EACH calendar month — a
    * per-month split, not a corpus-wide midpoint), arms by user parity — the
    * causal-inference companion to q_ab_test that nets out a shared time
    * trend. The user × period SPINE is explicit (a user absent from a
    * period contributes y = 0 — dropping those rows would bias every
    * cell mean upward), built as a 2-row literal cross join, never a
    * data-sized product. One user-period rollup; the four cell moments
    * (exact integers) collapse to one row, and the DiD estimate with its
    * pooled standard error is a fixed IEEE tree over them. */
  val qDid = GraftQuery(
    "q_did",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      didEstimate(s, ev.select($"user_id", $"event_type",
        when(dayofmonth($"ts") <= 15, 0L).otherwise(1L).as("period")))
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
          CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 0 ELSE 1 END AS period
        FROM events),
      pur AS (SELECT user_id, period, COUNT(*) AS y FROM ev
        WHERE event_type = 'purchase' GROUP BY 1, 2),
      spine AS (SELECT DISTINCT user_id FROM ev),
      up AS (SELECT s.user_id, p.period, COALESCE(pur.y, 0) AS y
        FROM spine s CROSS JOIN (SELECT 0 AS period UNION ALL SELECT 1) p
        LEFT JOIN pur ON pur.user_id = s.user_id AND pur.period = p.period),
      cells AS (SELECT user_id % 2 AS arm, period,
          CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM up GROUP BY 1, 2),
      one AS (SELECT
          SUM(CASE WHEN arm = 0 AND period = 0 THEN n END) AS n_00,
          SUM(CASE WHEN arm = 0 AND period = 0 THEN sy END) AS sy_00,
          SUM(CASE WHEN arm = 0 AND period = 0 THEN syy END) AS syy_00,
          SUM(CASE WHEN arm = 0 AND period = 1 THEN n END) AS n_01,
          SUM(CASE WHEN arm = 0 AND period = 1 THEN sy END) AS sy_01,
          SUM(CASE WHEN arm = 0 AND period = 1 THEN syy END) AS syy_01,
          SUM(CASE WHEN arm = 1 AND period = 0 THEN n END) AS n_10,
          SUM(CASE WHEN arm = 1 AND period = 0 THEN sy END) AS sy_10,
          SUM(CASE WHEN arm = 1 AND period = 0 THEN syy END) AS syy_10,
          SUM(CASE WHEN arm = 1 AND period = 1 THEN n END) AS n_11,
          SUM(CASE WHEN arm = 1 AND period = 1 THEN sy END) AS sy_11,
          SUM(CASE WHEN arm = 1 AND period = 1 THEN syy END) AS syy_11
        FROM cells)
      SELECT
        ROUND(CAST(sy_00 AS DOUBLE) / CAST(n_00 AS DOUBLE), 6) AS mean_a_pre,
        ROUND(CAST(sy_01 AS DOUBLE) / CAST(n_01 AS DOUBLE), 6) AS mean_a_post,
        ROUND(CAST(sy_10 AS DOUBLE) / CAST(n_10 AS DOUBLE), 6) AS mean_b_pre,
        ROUND(CAST(sy_11 AS DOUBLE) / CAST(n_11 AS DOUBLE), 6) AS mean_b_post,
        ROUND((CAST(sy_11 AS DOUBLE) / CAST(n_11 AS DOUBLE)
             - CAST(sy_10 AS DOUBLE) / CAST(n_10 AS DOUBLE))
            - (CAST(sy_01 AS DOUBLE) / CAST(n_01 AS DOUBLE)
             - CAST(sy_00 AS DOUBLE) / CAST(n_00 AS DOUBLE)), 6) AS did,
        ROUND(SQRT(
            CAST(n_00 * syy_00 - sy_00 * sy_00 AS DOUBLE) / CAST(n_00 * (n_00 - 1) AS DOUBLE) / CAST(n_00 AS DOUBLE)
          + CAST(n_01 * syy_01 - sy_01 * sy_01 AS DOUBLE) / CAST(n_01 * (n_01 - 1) AS DOUBLE) / CAST(n_01 AS DOUBLE)
          + CAST(n_10 * syy_10 - sy_10 * sy_10 AS DOUBLE) / CAST(n_10 * (n_10 - 1) AS DOUBLE) / CAST(n_10 AS DOUBLE)
          + CAST(n_11 * syy_11 - sy_11 * sy_11 AS DOUBLE) / CAST(n_11 * (n_11 - 1) AS DOUBLE) / CAST(n_11 AS DOUBLE)), 6) AS se
      FROM one""")
  )

  /** Shared DiD machinery: from events annotated with a 0/1 `period`,
    * build the explicit user × period spine (absent users contribute
    * y = 0), parity arms, the four integer cell moments, and the DiD
    * estimate with its pooled standard error — see q_did's docstring
    * for the full design rationale. */
  private def didEstimate(s: org.apache.spark.sql.SparkSession,
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"period")
      .agg(count(lit(1)).as("y"))
    val spine = ev.select($"user_id").distinct()
      .crossJoin(Seq(0L, 1L).toDF("period"))
    val cells = spine.join(purchases, Seq("user_id", "period"), "left")
      .select(pmod($"user_id", lit(2L)).as("arm"), $"period",
        coalesce($"y", lit(0L)).as("y"))
      .groupBy($"arm", $"period")
      .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
        sum($"y" * $"y").as("syy"))
    def cell(a: Int, p: Int, c: String) =
      sum(when($"arm" === a && $"period" === p, col(c))).as(s"${c}_$a$p")
    val one = cells.agg(
      cell(0, 0, "n"), cell(0, 0, "sy"), cell(0, 0, "syy"),
      cell(0, 1, "n"), cell(0, 1, "sy"), cell(0, 1, "syy"),
      cell(1, 0, "n"), cell(1, 0, "sy"), cell(1, 0, "syy"),
      cell(1, 1, "n"), cell(1, 1, "sy"), cell(1, 1, "syy"))
    def m(a: Int, p: Int) =
      col(s"sy_$a$p").cast(DoubleType) / col(s"n_$a$p").cast(DoubleType)
    def v(a: Int, p: Int) =
      (col(s"n_$a$p") * col(s"syy_$a$p") - col(s"sy_$a$p") * col(s"sy_$a$p"))
        .cast(DoubleType) /
        (col(s"n_$a$p") * (col(s"n_$a$p") - 1)).cast(DoubleType) /
        col(s"n_$a$p").cast(DoubleType)
    one.select(
      round(m(0, 0), 6).as("mean_a_pre"), round(m(0, 1), 6).as("mean_a_post"),
      round(m(1, 0), 6).as("mean_b_pre"), round(m(1, 1), 6).as("mean_b_post"),
      round((m(1, 1) - m(1, 0)) - (m(0, 1) - m(0, 0)), 6).as("did"),
      round(sqrt(v(0, 0) + v(0, 1) + v(1, 0) + v(1, 1)), 6).as("se"))
  }

  /** q_did with the textbook EPOCH-MIDPOINT design: one corpus-wide
    * pre/post cutover at the midpoint of the observed day range
    * ((min_day + max_day) div 2 in epoch days, integer arithmetic in
    * both engines), instead of q_did's per-calendar-month split. A
    * single cutover is the standard DiD framing — "treatment turned on
    * at date T" — and makes the two periods contiguous time blocks
    * rather than interleaved month halves. The day bounds are one
    * broadcast row; everything downstream is the shared didEstimate
    * machinery. */
  val qDidEpoch = GraftQuery(
    "q_did_epoch",
    (s, dir) => {
      import s.implicits._
      val evd = Tables.events(s, dir)
        .select($"user_id", $"event_type",
          expr("unix_micros(ts) div 86400000000").as("day"))
      val mid = evd.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      didEstimate(s, evd.crossJoin(broadcast(mid))
        .select($"user_id", $"event_type",
          when($"day" <= $"mid", 0L).otherwise(1L).as("period")))
    },
    Some("""WITH d AS (SELECT user_id, event_type,
          epoch_us(ts) // 86400000000 AS day FROM events),
      b AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM d),
      ev AS (SELECT user_id, event_type,
          CASE WHEN day <= mid THEN 0 ELSE 1 END AS period FROM d, b),
      pur AS (SELECT user_id, period, COUNT(*) AS y FROM ev
        WHERE event_type = 'purchase' GROUP BY 1, 2),
      spine AS (SELECT DISTINCT user_id FROM ev),
      up AS (SELECT s.user_id, p.period, COALESCE(pur.y, 0) AS y
        FROM spine s CROSS JOIN (SELECT 0 AS period UNION ALL SELECT 1) p
        LEFT JOIN pur ON pur.user_id = s.user_id AND pur.period = p.period),
      cells AS (SELECT user_id % 2 AS arm, period,
          CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM up GROUP BY 1, 2),
      one AS (SELECT
          SUM(CASE WHEN arm = 0 AND period = 0 THEN n END) AS n_00,
          SUM(CASE WHEN arm = 0 AND period = 0 THEN sy END) AS sy_00,
          SUM(CASE WHEN arm = 0 AND period = 0 THEN syy END) AS syy_00,
          SUM(CASE WHEN arm = 0 AND period = 1 THEN n END) AS n_01,
          SUM(CASE WHEN arm = 0 AND period = 1 THEN sy END) AS sy_01,
          SUM(CASE WHEN arm = 0 AND period = 1 THEN syy END) AS syy_01,
          SUM(CASE WHEN arm = 1 AND period = 0 THEN n END) AS n_10,
          SUM(CASE WHEN arm = 1 AND period = 0 THEN sy END) AS sy_10,
          SUM(CASE WHEN arm = 1 AND period = 0 THEN syy END) AS syy_10,
          SUM(CASE WHEN arm = 1 AND period = 1 THEN n END) AS n_11,
          SUM(CASE WHEN arm = 1 AND period = 1 THEN sy END) AS sy_11,
          SUM(CASE WHEN arm = 1 AND period = 1 THEN syy END) AS syy_11
        FROM cells)
      SELECT
        ROUND(CAST(sy_00 AS DOUBLE) / CAST(n_00 AS DOUBLE), 6) AS mean_a_pre,
        ROUND(CAST(sy_01 AS DOUBLE) / CAST(n_01 AS DOUBLE), 6) AS mean_a_post,
        ROUND(CAST(sy_10 AS DOUBLE) / CAST(n_10 AS DOUBLE), 6) AS mean_b_pre,
        ROUND(CAST(sy_11 AS DOUBLE) / CAST(n_11 AS DOUBLE), 6) AS mean_b_post,
        ROUND((CAST(sy_11 AS DOUBLE) / CAST(n_11 AS DOUBLE)
             - CAST(sy_10 AS DOUBLE) / CAST(n_10 AS DOUBLE))
            - (CAST(sy_01 AS DOUBLE) / CAST(n_01 AS DOUBLE)
             - CAST(sy_00 AS DOUBLE) / CAST(n_00 AS DOUBLE)), 6) AS did,
        ROUND(SQRT(
            CAST(n_00 * syy_00 - sy_00 * sy_00 AS DOUBLE) / CAST(n_00 * (n_00 - 1) AS DOUBLE) / CAST(n_00 AS DOUBLE)
          + CAST(n_01 * syy_01 - sy_01 * sy_01 AS DOUBLE) / CAST(n_01 * (n_01 - 1) AS DOUBLE) / CAST(n_01 AS DOUBLE)
          + CAST(n_10 * syy_10 - sy_10 * sy_10 AS DOUBLE) / CAST(n_10 * (n_10 - 1) AS DOUBLE) / CAST(n_10 AS DOUBLE)
          + CAST(n_11 * syy_11 - sy_11 * sy_11 AS DOUBLE) / CAST(n_11 * (n_11 - 1) AS DOUBLE) / CAST(n_11 AS DOUBLE)), 6) AS se
      FROM one""")
  )

  /** Deadline-bounded funnel: view → click WITHIN 1 HOUR of the first
    * view → purchase WITHIN 24 HOURS of that click. The unbounded
    * q_funnel counts a conversion weeks later as success; bounded stages
    * are what campaign analytics actually reports. Same shape as
    * q_funnel — per-stage user-keyed min-aggregations chained by strict
    * inequality plus a deadline, all integer-micros arithmetic. */
  val qFunnelWindowed = GraftQuery(
    "q_funnel_windowed",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_type")
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("v_ts"))
      val c = ev.filter($"event_type" === "click")
        .join(v, "user_id")
        .filter($"ts" > $"v_ts" &&
          unix_micros($"ts") - unix_micros($"v_ts") <= lit(3600000000L))
        .groupBy($"user_id").agg(min($"ts").as("c_ts"))
      val p = ev.filter($"event_type" === "purchase")
        .join(c, "user_id")
        .filter($"ts" > $"c_ts" &&
          unix_micros($"ts") - unix_micros($"c_ts") <= lit(86400000000L))
        .groupBy($"user_id").agg(min($"ts").as("p_ts"))
      val users = ev.select($"user_id").distinct()
      users.join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_users"), count($"v_ts").as("n_viewed"),
          count($"c_ts").as("n_clicked_1h"), count($"p_ts").as("n_purchased_24h"))
        .select($"n_users", $"n_viewed", $"n_clicked_1h", $"n_purchased_24h",
          round($"n_clicked_1h".cast(DoubleType) / greatest($"n_viewed", lit(1L)), 6)
            .as("click_conv_1h"),
          round($"n_purchased_24h".cast(DoubleType) / greatest($"n_clicked_1h", lit(1L)), 6)
            .as("purchase_conv_24h"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, ts FROM events),
      v AS (SELECT user_id, MIN(ts) AS v_ts FROM e
        WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, MIN(e.ts) AS c_ts
        FROM e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.v_ts
          AND epoch_us(e.ts) - epoch_us(v.v_ts) <= 3600000000
        GROUP BY 1),
      p AS (SELECT e.user_id, MIN(e.ts) AS p_ts
        FROM e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
          AND epoch_us(e.ts) - epoch_us(c.c_ts) <= 86400000000
        GROUP BY 1)
      SELECT (SELECT COUNT(DISTINCT user_id) FROM e) AS n_users,
        (SELECT COUNT(*) FROM v) AS n_viewed,
        (SELECT COUNT(*) FROM c) AS n_clicked_1h,
        (SELECT COUNT(*) FROM p) AS n_purchased_24h,
        ROUND(CAST((SELECT COUNT(*) FROM c) AS DOUBLE) /
          GREATEST((SELECT COUNT(*) FROM v), 1), 6) AS click_conv_1h,
        ROUND(CAST((SELECT COUNT(*) FROM p) AS DOUBLE) /
          GREATEST((SELECT COUNT(*) FROM c), 1), 6) AS purchase_conv_24h""")
  )

  /** Bot/abuse BURSTINESS report: per user, the tightest inter-event
    * gap and the tightest span covered by 5 consecutive events (a
    * sliding-window rate via `lead` over the per-user time order — no
    * self-join, no explode). The 20 burstiest actors surface with flag
    * columns at operational thresholds (5 events inside an hour;
    * sub-second consecutive hits) — the triage list a crawler-filter or
    * rate-limiter feeds on. Scale shape: one window + one groupBy on the
    * SAME key (user_id), so Catalyst reuses the exchange — a single
    * shuffle total — and the top-20 is a TakeOrdered, never a full sort.
    * Total (ts, event_id) tie-break keeps both engines' lead() streams
    * identical. */
  val qBotBurst = GraftQuery(
    "q_bot_burst",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id")
        .withColumn("us", unix_micros($"ts"))
        .withColumn("gap_us", lead($"us", 1).over(w) - $"us")
        .withColumn("win5_us", lead($"us", 4).over(w) - $"us")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          min($"gap_us").as("min_gap_us"),
          min($"win5_us").as("min_win5_us"))
        // keep any user with at least one inter-event gap: a rapid 2-4
        // event actor must be able to surface via sub_second_gap even
        // though min_win5_us is null for them (filtering on win5 would
        // silently scope the report to >= 5-event users and blind the
        // sub-second threshold). Only single-event users drop — they
        // have no gap to rate. Null win5 ranks AFTER every real span
        // (pinned NULLS LAST: Spark's asc default is nulls-first,
        // DuckDB's is nulls-last — an unpinned sort would hash-diverge),
        // with min_gap_us then user_id as tie-breaks.
        .filter($"min_gap_us".isNotNull)
        .withColumn("burst5_1h",
          when($"min_win5_us" <= 3600000000L, 1).otherwise(0))
        .withColumn("sub_second_gap", when($"min_gap_us" < 1000000L, 1).otherwise(0))
        .orderBy($"min_win5_us".asc_nulls_last, $"min_gap_us", $"user_id")
        .limit(20)
    },
    Some("""WITH e AS (SELECT user_id,
        LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) - epoch_us(ts) AS gap_us,
        LEAD(epoch_us(ts), 4) OVER (PARTITION BY user_id ORDER BY ts, event_id) - epoch_us(ts) AS win5_us
      FROM events),
      g AS (SELECT user_id, COUNT(*) AS n_events,
          MIN(gap_us) AS min_gap_us, MIN(win5_us) AS min_win5_us
        FROM e GROUP BY 1)
      SELECT user_id, n_events, min_gap_us, min_win5_us,
        CASE WHEN min_win5_us <= 3600000000 THEN 1 ELSE 0 END AS burst5_1h,
        CASE WHEN min_gap_us < 1000000 THEN 1 ELSE 0 END AS sub_second_gap
      FROM g WHERE min_gap_us IS NOT NULL
      ORDER BY min_win5_us ASC NULLS LAST, min_gap_us, user_id LIMIT 20""")
  )

  /** Telemetry DEBOUNCE audit: per event type, how many events re-fire
    * within 1 h of the previous same-(user, type) event — chained
    * suppression, so a dense run collapses to its FIRST event (the
    * double-fire/retry-storm cleanup rule for client telemetry). One
    * `lag` window per (user, type) then a type-level rollup — the gap
    * column shuffles once on the window key, counts once on the (tiny)
    * type key. At 100 TB the same debounce runs streaming as
    * dropDuplicatesWithinWatermark over a (user, type, bucket) key;
    * this is the batch-replayable twin the oracle can gate. */
  val qWindowDedup = GraftQuery(
    "q_window_dedup",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val w = Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
      Tables.events(s, dir)
        .withColumn("gap_us", unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w))
        .withColumn("dup",
          ($"gap_us".isNotNull && $"gap_us" <= 3600000000L).cast("int"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum($"dup").cast(LongType).as("n_debounced"),
          (count(lit(1)) - sum($"dup")).cast(LongType).as("n_kept"),
          (floor(sum($"dup") * 1000000.0 / count(lit(1)) + 0.5) / 1000000.0)
            .as("dup_rate"))
        .orderBy($"event_type")
    },
    Some("""WITH g AS (SELECT event_type,
        epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
      FROM events)
      SELECT event_type, COUNT(*) AS n_events,
        CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced,
        CAST(COUNT(*) - SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        FLOOR(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= 3600000000 THEN 1 ELSE 0 END) * 1000000.0 / COUNT(*) + 0.5) / 1000000.0 AS dup_rate
      FROM g GROUP BY 1 ORDER BY 1""")
  )

  /** RECENCY-WEIGHTED engagement score: each event contributes a weight
    * halving per week of age (anchored to the corpus max day), so the
    * score is yesterday's activity, not lifetime volume — the RFM
    * "recency × frequency" compression into one rankable number.
    * Weights are EXACT integers (1000000 div 2^weeks, capped at 20
    * halvings) — never a float pow(), whose exp/log round-trip differs
    * across engines — so the per-user integer sum is order-independent
    * and the whole top-20 is hash-gateable. Map-side weighting + one
    * user rollup + TakeOrdered. */
  val qDecayScore = GraftQuery(
    "q_decay_score",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val mx = Tables.events(s, dir).agg(max(date_trunc("day", $"ts")).as("mx"))
      Tables.events(s, dir)
        .crossJoin(broadcast(mx))
        .withColumn("wk", least(expr("datediff(mx, ts) div 7"), lit(20L)))
        .withColumn("w_ppm",
          expr("1000000 div shiftleft(cast(1 as bigint), cast(wk as int))"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum($"w_ppm").cast(LongType).as("score_ppm"))
        .select($"user_id", $"n_events",
          ($"score_ppm" / 1000000.0).as("decay_score"))
        .orderBy($"decay_score".desc, $"user_id")
        .limit(20)
    },
    Some("""WITH mx AS (SELECT MAX(DATE_TRUNC('day', ts)) AS mx FROM events),
      w AS (SELECT user_id,
          1000000 // (CAST(1 AS BIGINT) << LEAST(DATEDIFF('day', CAST(ts AS DATE), CAST(mx AS DATE)) // 7, 20)) AS w_ppm
        FROM events, mx),
      g AS (SELECT user_id, COUNT(*) AS n_events,
          CAST(SUM(w_ppm) AS BIGINT) AS score_ppm
        FROM w GROUP BY 1)
      SELECT user_id, n_events, score_ppm / 1000000.0 AS decay_score
      FROM g ORDER BY decay_score DESC, user_id LIMIT 20""")
  )

  /** NEXT-EVENT PREDICTION, evaluated honestly: train a first-order
    * Markov predictor (per prev-state argmax of transition counts) on
    * the FIRST HALF of the time range, score top-1 accuracy on the
    * SECOND half — temporal holdout, the split that actually measures a
    * sequence model (a random split would leak future context into
    * training). Everything is exact: the midpoint is integer epoch
    * math, the argmax tie-breaks lexicographically, an unseen test
    * state scores 0 via the left join. Transitions come from one lag
    * window per user; the train matrix is |states|² rows and broadcasts
    * onto the test pairs. */
  val qMarkovEval = GraftQuery(
    "q_markov_eval",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      // cached: pairs feeds the midpoint aggregate AND both the train
      // and test branches — uncached, the user-keyed window shuffle
      // would run three times
      val pairs = graft.operators.Caches.register(Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("next_type", lead($"event_type", 1).over(w))
        .filter($"next_type".isNotNull)
        .withColumn("us", unix_micros($"ts")))
      val mid = pairs.agg(
        expr("(min(us) + (max(us) - min(us)) div 2)").as("mid"))
      val withMid = pairs.crossJoin(broadcast(mid))
      val train = withMid.filter($"us" < $"mid")
        .groupBy($"event_type".as("prev"), $"next_type".as("nxt"))
        .agg(count(lit(1)).as("c"))
      val rankW = Window.partitionBy($"prev").orderBy($"c".desc, $"nxt")
      val model = train
        .withColumn("rn", row_number().over(rankW))
        .filter($"rn" === 1)
        .select($"prev", $"nxt".as("predicted_next"))
      withMid.filter($"us" >= $"mid")
        .select($"event_type".as("prev"), $"next_type")
        .join(broadcast(model), Seq("prev"), "left")
        .withColumn("correct",
          ($"next_type" === $"predicted_next").cast("int"))
        .groupBy($"prev", $"predicted_next")
        .agg(count(lit(1)).as("n_test"),
          coalesce(sum($"correct"), lit(0)).cast(LongType).as("n_correct"))
        .withColumn("accuracy",
          floor($"n_correct" * 1000000.0 / $"n_test" + 0.5) / 1000000.0)
        .orderBy($"prev")
    },
    Some("""WITH p AS (SELECT user_id, event_type,
        LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
        epoch_us(ts) AS us
      FROM events),
      pairs AS (SELECT * FROM p WHERE next_type IS NOT NULL),
      mid AS (SELECT MIN(us) + (MAX(us) - MIN(us)) // 2 AS mid FROM pairs),
      train AS (SELECT event_type AS prev, next_type AS nxt, COUNT(*) AS c
        FROM pairs, mid WHERE us < mid GROUP BY 1, 2),
      model AS (SELECT prev, nxt AS predicted_next FROM
        (SELECT prev, nxt, ROW_NUMBER() OVER (PARTITION BY prev ORDER BY c DESC, nxt) AS rn
         FROM train) WHERE rn = 1),
      test AS (SELECT event_type AS prev, next_type FROM pairs, mid WHERE us >= mid),
      j AS (SELECT t.prev, m.predicted_next,
          CASE WHEN t.next_type = m.predicted_next THEN 1 ELSE 0 END AS correct
        FROM test t LEFT JOIN model m ON t.prev = m.prev),
      g AS (SELECT prev, predicted_next, COUNT(*) AS n_test,
          CAST(COALESCE(SUM(correct), 0) AS BIGINT) AS n_correct
        FROM j GROUP BY 1, 2)
      SELECT prev, predicted_next, n_test, n_correct,
        FLOOR(n_correct * 1000000.0 / n_test + 0.5) / 1000000.0 AS accuracy
      FROM g ORDER BY prev""")
  )

  /** SHAPLEY-value channel attribution — the game-theoretic completion
    * of the attribution family (first/last-touch in q_attribution,
    * removal-effect Markov in q_markov_attribution): each channel's
    * credit is its average marginal lift across all coalitions,
    * φ_i = Σ_{S∋i} w(|S|)·(v(S) − v(S\i)). The coalition value v(S) is
    * the observed conversion rate of users whose pre-purchase touch-set
    * is exactly S (unobserved coalitions value 0, v(∅)=0 — the standard
    * simplified-Shapley estimator; stated, not hidden). Exactness:
    * touch-sets are BITMASKS (bit_or aggregate), v is integer ppm, and
    * the Shapley weights for n=4 are rationals over 24 — so φ
    * accumulates as an INTEGER Σ w·24·dv and divides once at the end;
    * no float sum over subsets. Corpus work is two user-keyed rollups;
    * the 15-coalition × 4-channel grid math is constant-size.
    *
    * Attribution unit: the (user, day) exposure — the coalition is the
    * channel set touched that day, conversion is a same-day purchase.
    * (User-lifetime coalitions degenerate here: every user eventually
    * touches everything and converts, making all marginals zero — the
    * bounded exposure window is what gives the value function
    * variance, exactly as production attribution windows do.) */
  val qShapleyAttribution = GraftQuery(
    "q_shapley_attribution",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val bits = when($"event_type" === "click", 1L)
        .when($"event_type" === "error", 2L)
        .when($"event_type" === "signup", 4L)
        .when($"event_type" === "view", 8L)
        .otherwise(0L) // purchase carries no channel bit
      val masks = Tables.events(s, dir)
        .select($"user_id", date_trunc("day", $"ts").as("day"),
          bits.as("bit"),
          ($"event_type" === "purchase").cast("int").as("conv"))
        .groupBy($"user_id", $"day")
        .agg(expr("bit_or(bit)").as("mask"), max($"conv").as("conv"))
      val v = masks.filter($"mask" > 0)
        .groupBy($"mask")
        .agg(count(lit(1)).as("users"), sum($"conv").as("convs"))
        .withColumn("v_ppm",
          floor($"convs" * 1000000.0 / $"users" + 0.5).cast(LongType))
      val grid = s.range(1, 16).select($"id".as("m"))
      val channels = Seq(("click", 1L), ("error", 2L), ("signup", 4L),
        ("view", 8L)).toDF("channel", "bit")
      val pairs = channels.join(grid, expr("(m & bit) != 0"))
        .withColumn("sz", expr("bit_count(m)"))
        .withColumn("w24",
          when($"sz" === 1 || $"sz" === 4, 6L).otherwise(2L))
        .withColumn("m_minus", expr("m ^ bit"))
      val vS = v.select($"mask".as("m"), $"v_ppm".as("v_s"))
      val vM = v.select($"mask".as("m_minus"), $"v_ppm".as("v_sm"))
      pairs
        .join(broadcast(vS), Seq("m"), "left")
        .join(broadcast(vM), Seq("m_minus"), "left")
        .withColumn("dv",
          coalesce($"v_s", lit(0L)) - coalesce($"v_sm", lit(0L)))
        .groupBy($"channel")
        .agg(sum($"w24" * $"dv").cast(LongType).as("phi24ppm"))
        .select($"channel", round($"phi24ppm" / 24000000.0, 6).as("phi"))
        .orderBy($"channel")
    },
    Some("""WITH masks AS (SELECT user_id, DATE_TRUNC('day', ts) AS day,
          BIT_OR(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
            WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END) AS mask,
          MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1, 2),
      v AS (SELECT mask, COUNT(*) AS users, SUM(conv) AS convs,
          CAST(FLOOR(SUM(conv) * 1000000.0 / COUNT(*) + 0.5) AS BIGINT) AS v_ppm
        FROM masks WHERE mask > 0 GROUP BY 1),
      grid AS (SELECT unnest(range(1, 16)) AS m),
      channels AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
        ('signup', 4), ('view', 8)) AS t(channel, bit)),
      pairs AS (SELECT channel, bit, m, bit_count(m) AS sz, xor(m, bit) AS m_minus,
          CASE WHEN bit_count(m) = 1 OR bit_count(m) = 4 THEN 6 ELSE 2 END AS w24
        FROM channels JOIN grid ON (m & bit) <> 0),
      terms AS (SELECT p.channel,
          p.w24 * (COALESCE(vs.v_ppm, 0) - COALESCE(vm.v_ppm, 0)) AS t24
        FROM pairs p
        LEFT JOIN v vs ON p.m = vs.mask
        LEFT JOIN v vm ON p.m_minus = vm.mask)
      SELECT channel, ROUND(CAST(SUM(t24) AS BIGINT) / 24000000.0, 6) AS phi
      FROM terms GROUP BY 1 ORDER BY channel""")
  )

  /** Behavioral DIVERSITY per user: Shannon entropy of the event-type
    * mix, with the ln(k) ceiling and the normalized ratio beside it —
    * low-entropy actors do one thing (bots, scripts, single-purpose
    * integrations), the behavioral complement of q_bot_burst's timing
    * signal. Per-term −p·ln p values quantize to DECIMAL(18,12) before
    * the per-user sum (the q_source_kl parity idiom), so the aggregate
    * is order-independent; one (user, type) rollup + one user rollup. */
  val qSessionEntropy = GraftQuery(
    "q_session_entropy",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
      val ut = Tables.events(s, dir)
        .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("n_ut"))
      val u = ut.groupBy($"user_id")
        .agg(sum($"n_ut").cast(LongType).as("n_events"),
          count(lit(1)).cast(LongType).as("n_types"))
      ut.join(u, "user_id")
        .withColumn("term",
          (($"n_ut".cast(DoubleType) / $"n_events") *
            -log($"n_ut".cast(DoubleType) / $"n_events"))
            .cast(DecimalType(18, 12)))
        .groupBy($"user_id", $"n_events", $"n_types")
        .agg(round(sum($"term").cast(DoubleType), 6).as("entropy"))
        .withColumn("max_entropy", round(log($"n_types".cast(DoubleType)), 6))
        .withColumn("entropy_ratio",
          when($"n_types" === 1, 1.0).otherwise(
            round($"entropy" / log($"n_types".cast(DoubleType)), 6)))
        .orderBy($"user_id")
    },
    Some("""WITH ut AS (SELECT user_id, event_type, COUNT(*) AS n_ut
        FROM events GROUP BY 1, 2),
      u AS (SELECT user_id, CAST(SUM(n_ut) AS BIGINT) AS n_events,
          CAST(COUNT(*) AS BIGINT) AS n_types
        FROM ut GROUP BY 1),
      terms AS (SELECT ut.user_id, u.n_events, u.n_types,
          CAST((CAST(n_ut AS DOUBLE) / n_events) *
            -LN(CAST(n_ut AS DOUBLE) / n_events) AS DECIMAL(18,12)) AS term
        FROM ut JOIN u USING (user_id)),
      g AS (SELECT user_id, n_events, n_types,
          ROUND(CAST(SUM(term) AS DOUBLE), 6) AS entropy
        FROM terms GROUP BY 1, 2, 3)
      SELECT user_id, n_events, n_types, entropy,
        ROUND(LN(CAST(n_types AS DOUBLE)), 6) AS max_entropy,
        CASE WHEN n_types = 1 THEN 1.0
             ELSE ROUND(entropy / LN(CAST(n_types AS DOUBLE)), 6) END AS entropy_ratio
      FROM g ORDER BY user_id""")
  )

  /** WATERMARK-SIZING report: how late do events actually arrive?
    * Arrival order is the event_id sequence (the ingest log position);
    * an event is LATE by (running max event-time seen so far) − (its
    * own event-time). The lateness distribution — bucketed on-time /
    * ≤1 min / ≤1 h / ≤1 d / later, plus the max — is precisely the
    * input that sizes `withWatermark` delays: a watermark below the
    * p99 lateness silently drops data, one far above it bloats state.
    * One running-max window per user (arrival order) + a tiny bucket
    * rollup; the same report at 100 TB reads the ingest log's
    * partition-local order, same plan.
    *
    * The synthetic events table arrives perfectly ordered (event_id
    * follows ts), which would make the report vacuous — so, per the
    * q_pii_redact convention, the ARRIVAL ORDER is synthesized
    * deterministically in BOTH engines: the portable Lehmer hash of
    * event_id stands in for the ingest log position (a hash-shuffled
    * arrival). The operator under test is the lateness detector, not
    * the synthesis. */
  val qWatermarkLateness = GraftQuery(
    "q_watermark_lateness",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      // TWO Lehmer steps: one step of 48271·id on small sequential ids
      // never wraps the modulus and stays monotone — no shuffle at all
      val arrival = pmod(
        pmod(pmod($"event_id", lit(2147483647L)) * lit(48271L),
          lit(2147483647L)) * lit(48271L), lit(2147483647L))
      val w = Window.partitionBy($"user_id").orderBy($"arrival", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val late = Tables.events(s, dir)
        .select($"user_id", $"event_id", arrival.as("arrival"),
          unix_micros($"ts").as("us"))
        .withColumn("late_us", max($"us").over(w) - $"us")
      val bucket = when($"late_us" === 0L, "0_on_time")
        .when($"late_us" <= 60000000L, "1_within_1m")
        .when($"late_us" <= 3600000000L, "2_within_1h")
        .when($"late_us" <= 86400000000L, "3_within_1d")
        .otherwise("4_later")
      val tot = Window.partitionBy()
      late.select(bucket.as("lateness"), $"late_us")
        .groupBy($"lateness")
        .agg(count(lit(1)).as("n_events"),
          max($"late_us").cast(LongType).as("max_late_us"))
        .withColumn("share",
          floor($"n_events" * 1000000.0 / sum($"n_events").over(tot) + 0.5)
            / 1000000.0)
        .orderBy($"lateness")
    },
    Some("""WITH a AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        ((((((event_id % 2147483647 + 2147483647) % 2147483647) * 48271) % 2147483647) * 48271) % 2147483647) AS arrival
      FROM events),
      l AS (SELECT user_id,
        MAX(us) OVER (PARTITION BY user_id ORDER BY arrival, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us AS late_us
      FROM a),
      b AS (SELECT CASE WHEN late_us = 0 THEN '0_on_time'
          WHEN late_us <= 60000000 THEN '1_within_1m'
          WHEN late_us <= 3600000000 THEN '2_within_1h'
          WHEN late_us <= 86400000000 THEN '3_within_1d'
          ELSE '4_later' END AS lateness, late_us
        FROM l),
      g AS (SELECT lateness, COUNT(*) AS n_events,
          CAST(MAX(late_us) AS BIGINT) AS max_late_us
        FROM b GROUP BY 1)
      SELECT lateness, n_events, max_late_us,
        FLOOR(n_events * 1000000.0 / SUM(n_events) OVER () + 0.5) / 1000000.0 AS share
      FROM g ORDER BY lateness""")
  )

  /** Propensity-stratified IPW / post-stratification ATE of "did the
    * user sign up" on total purchase spend — the observational-causal
    * companion to q_did: with the propensity estimated as the exact
    * treated share per activity stratum, the Horvitz-Thompson IPW
    * estimator collapses algebraically to the post-stratified
    * difference Σ_s (n_s/N)·(ȳ₁ₛ − ȳ₀ₛ), so every term is a rational of
    * integer cent sums. Strata where either arm is empty are reported
    * but excluded from the estimate (their counterfactual is
    * unidentified), with the excluded unit count in every row. The
    * per-stratum difference is quantized to ppm-of-a-cent BEFORE the
    * N-weighted integer combination — no ordered double sum anywhere.
    * Scale shape: one user rollup (the module's standard first shuffle),
    * then an 8-row stratum panel. */
  val qIpwAte = GraftQuery(
    "q_ipw_ate",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, LongType}
      // treatment = the user's FIRST event is a signup (~1 in 5 users),
      // so every activity stratum carries both arms
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val users = Tables.events(s, dir)
        .select($"user_id", $"event_type", $"ts", $"event_id",
          ($"value".cast(DecimalType(18, 2)) * 100).cast(LongType).as("vc"))
        .withColumn("rn", row_number().over(w))
        .groupBy($"user_id").agg(
          count(lit(1)).as("n_ev"),
          max(when($"rn" === 1 && $"event_type" === "signup", 1L).otherwise(0L)).as("t"),
          sum(when($"event_type" === "purchase", $"vc").otherwise(0L)).as("y"))
        .withColumn("stratum", least(expr("n_ev DIV 8"), lit(7L)))
      val strata = users.groupBy($"stratum").agg(
        count(lit(1)).as("n"),
        sum($"t").as("n_treated"),
        sum(when($"t" === 1L, $"y").otherwise(0L)).as("s1"),
        sum(when($"t" === 0L, $"y").otherwise(0L)).as("s0"))
      val scored = strata
        .withColumn("identified", $"n_treated" > 0L && $"n_treated" < $"n")
        // greatest(..,1) floors keep ANSI division total; when identified
        // is true the floors are no-ops (both arms non-empty)
        .withColumn("diff_ppm", when($"identified",
          floor(($"s1".cast(DoubleType) / greatest($"n_treated", lit(1L)) -
            $"s0".cast(DoubleType) / greatest($"n" - $"n_treated", lit(1L)))
            * 10000 + 0.5).cast(LongType)).otherwise(lit(0L)))
      val tot = scored.agg(
        sum(when($"identified", $"n").otherwise(0L)).as("n_identified"),
        sum(when(!$"identified", $"n").otherwise(0L)).as("n_excluded"),
        sum($"diff_ppm" * $"n").as("wsum"))
      scored.crossJoin(broadcast(tot))
        .select($"stratum", $"n", $"n_treated",
          when($"identified", round($"diff_ppm".cast(DoubleType) / 1000000.0, 6))
            .otherwise(lit(0.0)).as("diff_usd"),
          $"identified".cast(LongType).as("identified"),
          $"n_excluded",
          round($"wsum".cast(DoubleType) / $"n_identified".cast(DoubleType)
            / 1000000.0, 6).as("ate_usd"))
        .orderBy($"stratum")
    },
    Some("""WITH e AS (SELECT user_id, event_type, value,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
      u AS (SELECT user_id, COUNT(*) AS n_ev,
        MAX(CASE WHEN rn = 1 AND event_type = 'signup' THEN 1 ELSE 0 END) AS t,
        CAST(SUM(CASE WHEN event_type = 'purchase'
          THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END)
          AS BIGINT) AS y
      FROM e GROUP BY 1),
      su AS (SELECT LEAST(n_ev // 8, 7) AS stratum, t, y FROM u),
      st AS (SELECT stratum, COUNT(*) AS n,
        CAST(SUM(t) AS BIGINT) AS n_treated,
        CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS s1,
        CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS s0
      FROM su GROUP BY 1),
      sc AS (SELECT *, (n_treated > 0 AND n_treated < n) AS identified,
        CASE WHEN n_treated > 0 AND n_treated < n THEN
          CAST(FLOOR((CAST(s1 AS DOUBLE) / GREATEST(n_treated, 1) -
            CAST(s0 AS DOUBLE) / GREATEST(n - n_treated, 1)) * 10000 + 0.5) AS BIGINT)
        ELSE 0 END AS diff_ppm
      FROM st),
      tot AS (SELECT
        CAST(SUM(CASE WHEN identified THEN n ELSE 0 END) AS BIGINT) AS n_identified,
        CAST(SUM(CASE WHEN identified THEN 0 ELSE n END) AS BIGINT) AS n_excluded,
        CAST(SUM(diff_ppm * n) AS BIGINT) AS wsum
      FROM sc)
      SELECT sc.stratum, sc.n, sc.n_treated,
        CASE WHEN sc.identified
          THEN ROUND(CAST(sc.diff_ppm AS DOUBLE) / 1000000.0, 6) ELSE 0.0 END
          AS diff_usd,
        CASE WHEN sc.identified THEN 1 ELSE 0 END AS identified,
        tot.n_excluded,
        ROUND(CAST(tot.wsum AS DOUBLE) / CAST(tot.n_identified AS DOUBLE)
          / 1000000.0, 6) AS ate_usd
      FROM sc, tot ORDER BY sc.stratum""")
  )

  /** Doubly-robust (AIPW) ATE of first-event signup on purchase spend —
    * completing the observational-causal panel next to q_ipw_ate and
    * q_cuped (Robins-Rotnitzky-Zhao augmented IPW): the outcome model
    * μ̂₁/μ̂₀ comes from a COARSE 4-stratum activity grid, the propensity
    * ê from the FINE 8-stratum grid (deliberately different models — if
    * they shared a grid the correction term would vanish algebraically),
    * and the report shows all three estimators side by side: g-compute
    * (outcome model only), IPW (propensity only), and DR, which stays
    * consistent if EITHER model is right. Every per-user term groups
    * into one of ≤ 64 (c4, c8, t) cells whose contribution is a fixed-
    * order rational of integer cent sums, quantized to ppm-of-a-dollar
    * per CELL before the integer combination — no ordered double sum.
    * Users in a single-arm stratum of either grid are excluded (their
    * counterfactual is unidentified under that model), with the count
    * reported. Scale shape: one user rollup (the module's standard
    * first shuffle), broadcast stratum panels, then a ≤ 64-cell grid. */
  val qDoublyRobust = GraftQuery(
    "q_doubly_robust",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, LongType}
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val users = Tables.events(s, dir)
        .select($"user_id", $"event_type", $"ts", $"event_id",
          ($"value".cast(DecimalType(18, 2)) * 100).cast(LongType).as("vc"))
        .withColumn("rn", row_number().over(w))
        .groupBy($"user_id").agg(
          count(lit(1)).as("n_ev"),
          max(when($"rn" === 1 && $"event_type" === "signup", 1L).otherwise(0L)).as("t"),
          sum(when($"event_type" === "purchase", $"vc").otherwise(0L)).as("y"))
        .withColumn("c8", least(expr("n_ev DIV 8"), lit(7L)))
        .withColumn("c4", least(expr("n_ev DIV 16"), lit(3L)))
      val s8 = users.groupBy($"c8").agg(count(lit(1)).as("n8"),
          sum($"t").as("nt8"))
        .withColumn("id8", $"nt8" > 0L && $"nt8" < $"n8")
      val s4 = users.groupBy($"c4").agg(count(lit(1)).as("n4"),
          sum($"t").as("nt4"),
          sum(when($"t" === 1L, $"y").otherwise(0L)).as("s1"),
          sum(when($"t" === 0L, $"y").otherwise(0L)).as("s0"))
        .withColumn("id4", $"nt4" > 0L && $"nt4" < $"n4")
      val kept = users
        .join(broadcast(s8.select($"c8", $"n8", $"nt8", $"id8")), "c8")
        .join(broadcast(s4.select($"c4", $"n4", $"nt4", $"s1", $"s0", $"id4")), "c4")
        .withColumn("keep", $"id8" && $"id4")
      val cells = kept.filter($"keep")
        .groupBy($"c4", $"c8", $"t").agg(
          count(lit(1)).as("m"), sum($"y").as("sy"),
          max($"n8").as("n8"), max($"nt8").as("nt8"),
          max($"n4").as("n4"), max($"nt4").as("nt4"),
          max($"s1").as("s1"), max($"s0").as("s0"))
      val mu1 = $"s1".cast(DoubleType) / greatest($"nt4", lit(1L))
      val mu0 = $"s0".cast(DoubleType) / greatest($"n4" - $"nt4", lit(1L))
      val w1 = $"n8".cast(DoubleType) / greatest($"nt8", lit(1L))
      val w0 = $"n8".cast(DoubleType) / greatest($"n8" - $"nt8", lit(1L))
      val gTerm = $"m" * (mu1 - mu0)
      val ipwTerm = when($"t" === 1L, $"sy" * w1).otherwise(-($"sy" * w0))
      val drTerm = gTerm + when($"t" === 1L, ($"sy" - $"m" * mu1) * w1)
        .otherwise(-(($"sy" - $"m" * mu0) * w0))
      val q = cells.select($"m",
        floor(gTerm * 10000 + 0.5).cast(LongType).as("qg"),
        floor(ipwTerm * 10000 + 0.5).cast(LongType).as("qipw"),
        floor(drTerm * 10000 + 0.5).cast(LongType).as("qdr"))
      val excl = kept.agg(
        sum(when(!$"keep", 1L).otherwise(0L)).as("n_excluded"))
      q.agg(sum($"m").as("n_users"), sum($"qg").as("sg"),
          sum($"qipw").as("sipw"), sum($"qdr").as("sdr"))
        .crossJoin(broadcast(excl))
        .select($"n_users", $"n_excluded",
          round($"sg".cast(DoubleType) / $"n_users" / 1000000.0, 6).as("gcomp_usd"),
          round($"sipw".cast(DoubleType) / $"n_users" / 1000000.0, 6).as("ipw_usd"),
          round($"sdr".cast(DoubleType) / $"n_users" / 1000000.0, 6).as("dr_usd"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, value,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
      u AS (SELECT user_id, COUNT(*) AS n_ev,
        MAX(CASE WHEN rn = 1 AND event_type = 'signup' THEN 1 ELSE 0 END) AS t,
        CAST(SUM(CASE WHEN event_type = 'purchase'
          THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END)
          AS BIGINT) AS y
      FROM e GROUP BY 1),
      uu AS (SELECT user_id, t, y, LEAST(n_ev // 8, 7) AS c8,
        LEAST(n_ev // 16, 3) AS c4 FROM u),
      s8 AS (SELECT c8, COUNT(*) AS n8, CAST(SUM(t) AS BIGINT) AS nt8,
        (SUM(t) > 0 AND SUM(t) < COUNT(*)) AS id8 FROM uu GROUP BY 1),
      s4 AS (SELECT c4, COUNT(*) AS n4, CAST(SUM(t) AS BIGINT) AS nt4,
        CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS s1,
        CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS s0,
        (SUM(t) > 0 AND SUM(t) < COUNT(*)) AS id4 FROM uu GROUP BY 1),
      k AS (SELECT uu.*, s8.n8, s8.nt8, s4.n4, s4.nt4, s4.s1, s4.s0,
        (s8.id8 AND s4.id4) AS keep
        FROM uu JOIN s8 USING (c8) JOIN s4 USING (c4)),
      cells AS (SELECT c4, c8, t, COUNT(*) AS m, CAST(SUM(y) AS BIGINT) AS sy,
        MAX(n8) AS n8, MAX(nt8) AS nt8, MAX(n4) AS n4, MAX(nt4) AS nt4,
        MAX(s1) AS s1, MAX(s0) AS s0
        FROM k WHERE keep GROUP BY 1, 2, 3),
      qq AS (SELECT m,
        CAST(FLOOR(m * (CAST(s1 AS DOUBLE) / GREATEST(nt4, 1) -
          CAST(s0 AS DOUBLE) / GREATEST(n4 - nt4, 1)) * 10000 + 0.5) AS BIGINT)
          AS qg,
        CAST(FLOOR((CASE WHEN t = 1
            THEN sy * (CAST(n8 AS DOUBLE) / GREATEST(nt8, 1))
            ELSE -(sy * (CAST(n8 AS DOUBLE) / GREATEST(n8 - nt8, 1))) END)
          * 10000 + 0.5) AS BIGINT) AS qipw,
        CAST(FLOOR((m * (CAST(s1 AS DOUBLE) / GREATEST(nt4, 1) -
            CAST(s0 AS DOUBLE) / GREATEST(n4 - nt4, 1)) +
          CASE WHEN t = 1
            THEN (sy - m * (CAST(s1 AS DOUBLE) / GREATEST(nt4, 1))) *
              (CAST(n8 AS DOUBLE) / GREATEST(nt8, 1))
            ELSE -((sy - m * (CAST(s0 AS DOUBLE) / GREATEST(n4 - nt4, 1))) *
              (CAST(n8 AS DOUBLE) / GREATEST(n8 - nt8, 1))) END)
          * 10000 + 0.5) AS BIGINT) AS qdr
        FROM cells),
      ex AS (SELECT CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
        AS n_excluded FROM k),
      tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n_users,
        CAST(SUM(qg) AS BIGINT) AS sg, CAST(SUM(qipw) AS BIGINT) AS sipw,
        CAST(SUM(qdr) AS BIGINT) AS sdr FROM qq)
      SELECT tot.n_users, ex.n_excluded,
        ROUND(CAST(tot.sg AS DOUBLE) / tot.n_users / 1000000.0, 6) AS gcomp_usd,
        ROUND(CAST(tot.sipw AS DOUBLE) / tot.n_users / 1000000.0, 6) AS ipw_usd,
        ROUND(CAST(tot.sdr AS DOUBLE) / tot.n_users / 1000000.0, 6) AS dr_usd
      FROM tot, ex""")
  )

  /** Temporal PRECEDENCE matrix — sequential-pattern mining at the
    * pair grain (the level-2 GSP/PrefixSpan support counts): for every
    * ordered event-type pair (a → b), how many users exhibit "a before
    * b" (some a-occurrence strictly precedes some b-occurrence, gaps
    * allowed — first(a) < last(b) is exactly that predicate), over how
    * many users having both types at all, and the implied precedence
    * share. The support table behind "do users view before they buy,
    * and how often the other way?".
    *
    * Scale: one (user, type) rollup to first/last timestamps (≤ |types|
    * rows per user), then a user-keyed self-join whose fan-out is
    * ≤ |types|² per user by construction — never event-pair-sized.
    * Pure integer counting. */
  val qPrecedenceMatrix = GraftQuery(
    "q_precedence_matrix",
    (s, dir) => {
      import s.implicits._
      val u5 = Tables.events(s, dir)
        .groupBy($"user_id", $"event_type")
        .agg(min($"ts").as("first_ts"), max($"ts").as("last_ts"))
      u5.as("a").join(u5.as("b"),
          col("a.user_id") === col("b.user_id") &&
          col("a.event_type") =!= col("b.event_type"))
        .groupBy(col("a.event_type").as("before_type"),
          col("b.event_type").as("after_type"))
        .agg(count(lit(1)).as("n_both"),
          sum(when(col("a.first_ts") < col("b.last_ts"), 1L).otherwise(0L))
            .as("n_precede"))
        .withColumn("precede_pct",
          round($"n_precede" * 100.0 / $"n_both", 6))
        .orderBy($"before_type", $"after_type")
    },
    Some("""WITH u5 AS (SELECT user_id, event_type,
        MIN(ts) AS first_ts, MAX(ts) AS last_ts
      FROM events GROUP BY 1, 2)
      SELECT a.event_type AS before_type, b.event_type AS after_type,
        COUNT(*) AS n_both,
        CAST(SUM(CASE WHEN a.first_ts < b.last_ts THEN 1 ELSE 0 END) AS BIGINT)
          AS n_precede,
        ROUND(SUM(CASE WHEN a.first_ts < b.last_ts THEN 1 ELSE 0 END)
          * 100.0 / COUNT(*), 6) AS precede_pct
      FROM u5 a JOIN u5 b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** Entropy rate of the user-behavior Markov chain (event-type
    * transitions): H = −Σ_ij π̂_i p̂_ij ln p̂_ij in nats, with the
    * empirical stationary weight π̂_i = n_i/N — the single number that
    * says how predictable the next user action is (0 = deterministic
    * flows, ln|types| = uniform chaos), reported per from-state as the
    * conditional entropy panel plus the overall rate. Every ln term is
    * a rational of transition counts cast to DECIMAL(18,12) BEFORE the
    * sum (the q_mutual_info discipline — kills sum-order drift; the
    * per-term ln() itself remains runtime libm on a data-dependent
    * ratio, an accepted residual ulp risk at quantization boundaries
    * that the final ROUND(·,6) absorbs). Scale: one per-user
    * window for consecutive pairs, one (from, to) rollup; the entropy
    * algebra runs on the ≤ 25-cell panel. */
  val qEntropyRate = GraftQuery(
    "q_entropy_rate",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val tr = Tables.events(s, dir)
        .select($"user_id", $"event_type", $"ts", $"event_id")
        .withColumn("nxt", lead($"event_type", 1).over(w))
        .filter($"nxt".isNotNull)
        .groupBy($"event_type".as("from_type"), $"nxt".as("to_type"))
        .agg(count(lit(1)).as("n_ij"))
      val ni = tr.groupBy($"from_type").agg(sum($"n_ij").as("n_i"))
      val tot = tr.agg(sum($"n_ij").as("n"))
      val cells = tr.join(broadcast(ni), "from_type")
      val hcond = cells
        .groupBy($"from_type").agg(
          max($"n_i").as("n_i"),
          sum(((-($"n_ij".cast(DoubleType) / $"n_i")) *
            log($"n_ij".cast(DoubleType) / $"n_i")).cast(DecimalType(18, 12)))
            .as("hq"))
      val rate = cells.crossJoin(broadcast(tot))
        .agg(round(sum(((-($"n_ij".cast(DoubleType) / $"n")) *
            log($"n_ij".cast(DoubleType) / $"n_i")).cast(DecimalType(18, 12)))
          .cast(DoubleType), 6).as("entropy_rate"))
      hcond.crossJoin(broadcast(tot)).crossJoin(broadcast(rate))
        .select($"from_type", $"n_i".as("n_transitions"),
          round($"n_i".cast(DoubleType) / $"n", 6).as("pi"),
          round($"hq".cast(DoubleType), 6).as("h_cond"),
          $"entropy_rate")
        .orderBy($"from_type")
    },
    Some("""WITH e AS (SELECT user_id, event_type, ts, event_id,
        LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS nxt
      FROM events),
      tr AS (SELECT event_type AS from_type, nxt AS to_type, COUNT(*) AS n_ij
        FROM e WHERE nxt IS NOT NULL GROUP BY 1, 2),
      ni AS (SELECT from_type, CAST(SUM(n_ij) AS BIGINT) AS n_i
        FROM tr GROUP BY 1),
      tot AS (SELECT CAST(SUM(n_ij) AS BIGINT) AS n FROM tr),
      cells AS (SELECT tr.*, ni.n_i FROM tr JOIN ni USING (from_type)),
      hcond AS (SELECT from_type, MAX(n_i) AS n_i,
          SUM(CAST((-(CAST(n_ij AS DOUBLE) / n_i)) *
            LN(CAST(n_ij AS DOUBLE) / n_i) AS DECIMAL(18,12))) AS hq
        FROM cells GROUP BY 1),
      rate AS (SELECT ROUND(CAST(SUM(CAST((-(CAST(n_ij AS DOUBLE) / n)) *
            LN(CAST(n_ij AS DOUBLE) / n_i) AS DECIMAL(18,12))) AS DOUBLE), 6)
          AS entropy_rate
        FROM cells, tot)
      SELECT hcond.from_type, hcond.n_i AS n_transitions,
        ROUND(CAST(hcond.n_i AS DOUBLE) / tot.n, 6) AS pi,
        ROUND(CAST(hcond.hq AS DOUBLE), 6) AS h_cond,
        rate.entropy_rate
      FROM hcond, tot, rate ORDER BY from_type""")
  )

  /** Off-policy evaluation by inverse propensity scoring (Horvitz-
    * Thompson IPS, Li et al. "counterfactual bandit evaluation"): treat
    * the event log as a logged contextual-bandit dataset — context =
    * the user's activity stratum, action = event type, reward = the
    * event's value — and score the DETERMINISTIC target policy "play
    * the stratum's modal action" against the logged behavior. For a
    * deterministic policy the IPS estimate collapses per stratum to the
    * mean reward of the matching action (the propensity n_s/n_sa
    * cancels), and the overall policy value is the n_s-weighted
    * combination across strata, quantized per stratum to ppm before the
    * integer rollup — the q_ipw_ate discipline. Reported next to the
    * logged mean so the lift of the counterfactual policy is visible
    * per stratum AND overall.
    *
    * Scale: one user rollup for strata, one keyed join back, one
    * (stratum, action) rollup — everything after is a ≤ 8×|actions|
    * panel. */
  val qIpsPolicy = GraftQuery(
    "q_ips_policy",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, LongType}
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_type",
          ($"value".cast(DecimalType(18, 2)) * 100).cast(LongType).as("r"))
      val us = ev.groupBy($"user_id").agg(count(lit(1)).as("n_ev"))
        .withColumn("stratum", least(expr("n_ev DIV 8"), lit(7L)))
        .select($"user_id", $"stratum")
      val sa = ev.join(us, "user_id")
        .groupBy($"stratum", $"event_type")
        .agg(count(lit(1)).as("nsa"), sum($"r").as("sr"))
      val wmod = Window.partitionBy($"stratum").orderBy($"nsa".desc, $"event_type")
      val modal = sa.withColumn("rnm", row_number().over(wmod))
        .filter($"rnm" === 1)
        .select($"stratum", $"event_type".as("modal_action"),
          $"nsa".as("n_modal"), $"sr".as("sr_modal"))
      val st = sa.groupBy($"stratum").agg(sum($"nsa").as("n_s"), sum($"sr").as("sr_s"))
      val scored = modal.join(st, "stratum")
        .withColumn("v_ppm",
          floor($"sr_modal".cast(DoubleType) / $"n_modal" * 10000 + 0.5)
            .cast(LongType))
      val tot = scored.agg(sum($"n_s" * $"v_ppm").as("wsum"), sum($"n_s").as("ntot"))
      scored.crossJoin(broadcast(tot))
        .select($"stratum", $"n_s".as("n_events"), $"modal_action",
          round($"n_modal" * 100.0 / $"n_s", 6).as("share_modal_pct"),
          round($"v_ppm".cast(DoubleType) / 1000000.0, 6).as("ips_value_usd"),
          round($"sr_s".cast(DoubleType) / $"n_s" / 100.0, 6).as("logged_value_usd"),
          round($"wsum".cast(DoubleType) / $"ntot".cast(DoubleType) / 1000000.0, 6)
            .as("policy_value_usd"))
        .orderBy($"stratum")
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r FROM events),
      us AS (SELECT user_id, LEAST(COUNT(*) // 8, 7) AS stratum
        FROM ev GROUP BY 1),
      sa AS (SELECT us.stratum, ev.event_type, COUNT(*) AS nsa,
          CAST(SUM(ev.r) AS BIGINT) AS sr
        FROM ev JOIN us USING (user_id) GROUP BY 1, 2),
      modal AS (SELECT stratum, event_type AS modal_action, nsa AS n_modal,
          sr AS sr_modal
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY stratum
            ORDER BY nsa DESC, event_type) AS rnm FROM sa)
        WHERE rnm = 1),
      st AS (SELECT stratum, CAST(SUM(nsa) AS BIGINT) AS n_s,
          CAST(SUM(sr) AS BIGINT) AS sr_s FROM sa GROUP BY 1),
      scored AS (SELECT modal.stratum, modal.modal_action, modal.n_modal,
          modal.sr_modal, st.n_s, st.sr_s,
          CAST(FLOOR(CAST(modal.sr_modal AS DOUBLE) / modal.n_modal * 10000 + 0.5)
            AS BIGINT) AS v_ppm
        FROM modal JOIN st USING (stratum)),
      tot AS (SELECT CAST(SUM(n_s * v_ppm) AS BIGINT) AS wsum,
          CAST(SUM(n_s) AS BIGINT) AS ntot FROM scored)
      SELECT scored.stratum, scored.n_s AS n_events, scored.modal_action,
        ROUND(scored.n_modal * 100.0 / scored.n_s, 6) AS share_modal_pct,
        ROUND(CAST(scored.v_ppm AS DOUBLE) / 1000000.0, 6) AS ips_value_usd,
        ROUND(CAST(scored.sr_s AS DOUBLE) / scored.n_s / 100.0, 6)
          AS logged_value_usd,
        ROUND(CAST(tot.wsum AS DOUBLE) / CAST(tot.ntot AS DOUBLE) / 1000000.0, 6)
          AS policy_value_usd
      FROM scored, tot ORDER BY scored.stratum""")
  )

  /** CUPED variance reduction for the purchase-spend A/B readout — the
    * pre-experiment-covariate adjustment every mature experimentation
    * platform applies before reading a spend metric: θ = cov(X,Y)/var(X)
    * with X = pre-period spend, Y = post-period spend (corpus epoch-day
    * midpoint split, the q_did_epoch convention), adjusted arm mean =
    * Ȳₐ − θ·(X̄ₐ − X̄). All covariance/variance numerators are exact
    * decimal integer-cent moments; θ and ρ² (the variance-reduction
    * factor, computed as (a/b)·(a/c) on the decimal-exact numerators
    * cast once to double — the squared products would overflow
    * DECIMAL(38)) are single identical float expressions in both
    * engines. Scale shape: one user rollup, one 1-row moment aggregate,
    * a 2-row arm panel. */
  val qCuped = GraftQuery(
    "q_cuped",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, LongType}
      def dec38(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
      val ev = Tables.events(s, dir).select($"user_id",
        expr("unix_micros(ts) div 86400000000").as("day"),
        when($"event_type" === "purchase",
          ($"value".cast(DecimalType(18, 2)) * 100).cast(LongType))
          .otherwise(0L).as("vc"))
      val mid = ev.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      val per = ev.crossJoin(broadcast(mid)).groupBy($"user_id").agg(
          sum(when($"day" <= $"mid", $"vc").otherwise(0L)).as("x"),
          sum(when($"day" > $"mid", $"vc").otherwise(0L)).as("y"))
        .withColumn("arm", pmod($"user_id", lit(2L)))
      val m = per.agg(
        count(lit(1)).as("n"),
        dec38(sum(dec38($"x"))).as("sx"), dec38(sum(dec38($"y"))).as("sy"),
        dec38(sum(dec38($"x") * dec38($"x"))).as("sxx"),
        dec38(sum(dec38($"x") * dec38($"y"))).as("sxy"),
        dec38(sum(dec38($"y") * dec38($"y"))).as("syy"))
        .select($"n",
          (dec38($"n") * $"sxy" - $"sx" * $"sy").cast(DoubleType).as("a"),
          (dec38($"n") * $"sxx" - $"sx" * $"sx").cast(DoubleType).as("b"),
          (dec38($"n") * $"syy" - $"sy" * $"sy").cast(DoubleType).as("c"),
          $"sx".cast(DoubleType).as("sxd"))
      val arms = per.groupBy($"arm").agg(
        count(lit(1)).as("n_users"),
        dec38(sum(dec38($"x"))).cast(DoubleType).as("sxa"),
        dec38(sum(dec38($"y"))).cast(DoubleType).as("sya"))
      arms.crossJoin(broadcast(m))
        .withColumn("theta", $"a" / $"b")
        .select($"arm", $"n_users",
          round($"sya" / $"n_users" / 100.0, 6).as("mean_y_usd"),
          round(($"sya" / $"n_users" -
            $"theta" * ($"sxa" / $"n_users" - $"sxd" / $"n")) / 100.0, 6)
            .as("mean_y_adj_usd"),
          round($"theta", 6).as("theta"),
          round(($"a" / $"b") * ($"a" / $"c") * 100.0, 6).as("var_reduction_pct"))
        .orderBy($"arm")
    },
    Some("""WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        CASE WHEN event_type = 'purchase'
          THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END AS vc
      FROM events),
      mid AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM ev),
      per AS (SELECT user_id, user_id % 2 AS arm,
          CAST(SUM(CASE WHEN day <= mid THEN vc ELSE 0 END) AS HUGEINT) AS x,
          CAST(SUM(CASE WHEN day > mid THEN vc ELSE 0 END) AS HUGEINT) AS y
        FROM ev, mid GROUP BY 1, 2),
      m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
          SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy FROM per),
      md AS (SELECT CAST(n AS BIGINT) AS n,
          CAST(n * sxy - sx * sy AS DOUBLE) AS a,
          CAST(n * sxx - sx * sx AS DOUBLE) AS b,
          CAST(n * syy - sy * sy AS DOUBLE) AS c,
          CAST(sx AS DOUBLE) AS sxd
        FROM m),
      arms AS (SELECT arm, COUNT(*) AS n_users,
          CAST(SUM(x) AS DOUBLE) AS sxa, CAST(SUM(y) AS DOUBLE) AS sya
        FROM per GROUP BY 1)
      SELECT arm, n_users,
        ROUND(sya / n_users / 100.0, 6) AS mean_y_usd,
        ROUND((sya / n_users - (a / b) * (sxa / n_users - sxd / n)) / 100.0, 6)
          AS mean_y_adj_usd,
        ROUND(a / b, 6) AS theta,
        ROUND((a / b) * (a / c) * 100.0, 6) AS var_reduction_pct
      FROM arms, md ORDER BY arm""")
  )

  /** Power analysis for the conversion A/B setup: the minimum
    * detectable effect at α=0.05 / power=0.80 across a grid of
    * per-arm sample sizes — the "how long must this test run" table
    * every experiment review asks for. MDE = (z_{α/2}+z_β)·√(2p(1−p)/n)
    * with the z-sum hardcoded as the literal 2.801585 (no inverse-CDF
    * in either engine) and p the exact observed converter share
    * (q_ab_test's conversion definition). The n grid rides a constant
    * literal array — one 1-row aggregate, then 4 rows of scalar math. */
  val qPowerMde = GraftQuery(
    "q_power_mde",
    (s, dir) => {
      import s.implicits._
      val conv = Tables.events(s, dir)
        .groupBy($"user_id")
        .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("c"))
        .agg(count(lit(1)).as("n_users"), sum($"c").as("n_conv"))
      conv
        .select($"n_users", $"n_conv",
          ($"n_conv".cast(DoubleType) / $"n_users".cast(DoubleType)).as("p"),
          explode(typedLit(Seq(1000L, 10000L, 100000L, 1000000L))).as("n_per_arm"))
        .select($"n_per_arm", round($"p", 6).as("base_rate"),
          round(lit(2.801585) * sqrt(lit(2.0) * $"p" * (lit(1.0) - $"p") /
            $"n_per_arm".cast(DoubleType)) * 100.0, 6).as("mde_pct_points"),
          round(lit(2.801585) * sqrt(lit(2.0) * $"p" * (lit(1.0) - $"p") /
            $"n_per_arm".cast(DoubleType)) / $"p" * 100.0, 6).as("mde_relative_pct"))
        .orderBy($"n_per_arm")
    },
    Some("""WITH u AS (SELECT user_id,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
      FROM events GROUP BY 1),
      conv AS (SELECT COUNT(*) AS n_users, CAST(SUM(c) AS BIGINT) AS n_conv FROM u),
      grid AS (SELECT conv.*, CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p,
          CAST(g.n AS BIGINT) AS n_per_arm
        FROM conv CROSS JOIN (SELECT UNNEST([1000, 10000, 100000, 1000000]) AS n) g)
      SELECT n_per_arm, ROUND(p, 6) AS base_rate,
        ROUND(2.801585 * SQRT(2.0 * p * (1.0 - p) / CAST(n_per_arm AS DOUBLE))
          * 100.0, 6) AS mde_pct_points,
        ROUND(2.801585 * SQRT(2.0 * p * (1.0 - p) / CAST(n_per_arm AS DOUBLE))
          / p * 100.0, 6) AS mde_relative_pct
      FROM grid ORDER BY n_per_arm""")
  )

  /** DAU / WAU / stickiness: per-day distinct actives, 7-day trailing
    * distinct actives, and their ratio — the engagement panel every
    * product review opens with. The scale-aware rewrite: Spark has no
    * distinct-over-range window, so instead of recomputing a 7-day
    * distinct per day (O(days × span) rescans), each distinct user-day
    * fans out to the ≤7 window ends it can serve (a constant ±7 literal
    * explode, stays in codegen) and WAU is one distinct-count per window
    * end — linear in user-days at any scale. Only full windows (day ≥
    * min+6) are emitted. All counts exact integers; stickiness is one
    * per-row division. */
  val qDauWau = GraftQuery(
    "q_dau_wau",
    (s, dir) => {
      import s.implicits._
      val ud = graft.operators.Caches.register(
        Tables.events(s, dir)
          .select($"user_id", to_date($"ts").as("d"))
          .distinct()
          .withColumn("di", unix_date($"d")))
      val dau = ud.groupBy($"di").agg(max($"d").as("day"), count(lit(1)).as("dau"))
      val lo = ud.agg(min($"di").as("di0"))
      val wau = ud
        .select($"user_id", $"di", explode(typedLit(Seq(0, 1, 2, 3, 4, 5, 6))).as("o"))
        .select($"user_id", ($"di" + $"o").as("wend"))
        .distinct()
        .groupBy($"wend").agg(count(lit(1)).as("wau"))
      dau.join(wau, dau("di") === wau("wend"))
        .crossJoin(broadcast(lo))
        .filter($"di" >= $"di0" + 6)
        .select(date_format($"day", "yyyy-MM-dd").as("day"), $"dau", $"wau",
          round($"dau".cast(DoubleType) / $"wau".cast(DoubleType), 6).as("stickiness"))
        .orderBy($"day")
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      udi AS (SELECT user_id, d, date_diff('day', DATE '1970-01-01', d) AS di FROM ud),
      dau AS (SELECT di, MAX(d) AS day, COUNT(*) AS dau FROM udi GROUP BY 1),
      lo AS (SELECT MIN(di) AS di0 FROM udi),
      wau AS (SELECT wend, COUNT(*) AS wau FROM (
          SELECT DISTINCT user_id, di + o AS wend
          FROM udi CROSS JOIN (SELECT UNNEST([0, 1, 2, 3, 4, 5, 6]) AS o))
        GROUP BY 1)
      SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau,
        ROUND(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
      FROM dau JOIN wau ON wau.wend = dau.di, lo
      WHERE di >= di0 + 6 ORDER BY day""")
  )

  /** Longest consecutive-day activity streak per user, rolled into the
    * streak-length distribution — the gaps-and-islands kernel (island id
    * = day − row_number over the user's ordered distinct days, constant
    * within a consecutive run). Per-user windows partition cleanly at
    * any scale (no global sort); the output is bounded by the maximum
    * streak length. All integers. */
  val qActiveStreaks = GraftQuery(
    "q_active_streaks",
    (s, dir) => {
      import s.implicits._
      val ud = Tables.events(s, dir)
        .select($"user_id", unix_date(to_date($"ts")).as("di"))
        .distinct()
      val w = Window.partitionBy($"user_id").orderBy($"di")
      val streaks = ud
        .withColumn("grp", $"di" - row_number().over(w))
        .groupBy($"user_id", $"grp").agg(count(lit(1)).as("len"))
        .groupBy($"user_id").agg(max($"len").as("best_streak"))
      streaks.groupBy($"best_streak")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"best_streak")
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
        date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di FROM events),
      isl AS (SELECT user_id,
          di - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY di) AS grp
        FROM ud),
      runs AS (SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2),
      best AS (SELECT user_id, CAST(MAX(len) AS BIGINT) AS best_streak
        FROM runs GROUP BY 1)
      SELECT best_streak, COUNT(*) AS n_users
      FROM best GROUP BY 1 ORDER BY best_streak""")
  )

  /** Two-group LOG-RANK test on time-to-first-purchase (Mantel 1966),
    * arms split by user_id parity — the censoring-aware significance
    * test that belongs next to q_survival's Kaplan-Meier curve (a naive
    * conversion-rate z-test is biased when users are still "alive" at
    * the end of the window; the log-rank statistic is not). Per event
    * day t: d₁ observed arm-1 conversions, the hypergeometric
    * expectation e₁ = d·n₁/n and variance v = d·(n₁/n)·(1−n₁/n)·
    * (n−d)/(n−1) over the joint risk set, and χ² = (ΣO−ΣE)²/ΣV.
    *
    * Cross-engine FP discipline: d, n₁, n are exact integers (risk sets
    * are REVERSED cumulative integer sums, as in q_survival); each
    * day's e₁/v is a fixed-order tree of integer-derived doubles cast
    * to DECIMAL(28,12) BEFORE the day sum (order-free; 16 integer
    * digits so day-0 mass at large SFs cannot overflow), one ROUND at
    * the end. Scale: one user-keyed shuffle to (arm, day, ev), then
    * everything runs on the day-level panel — observation-window-
    * bounded, never corpus-sized. */
  val qLogrank = GraftQuery(
    "q_logrank",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, LongType}
      val ev = Tables.events(s, dir)
      val u = ev.groupBy($"user_id")
        .agg(min($"ts").as("t0"), max($"ts").as("tl"))
      val p = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id").agg(min($"ts").as("tp"))
      val perUser = u.join(p, Seq("user_id"), "left")
        .select(($"user_id" % 2).as("arm"),
          when($"tp".isNotNull,
              floor((unix_micros($"tp") - unix_micros($"t0")) / lit(86400000000L)))
            .otherwise(
              floor((unix_micros($"tl") - unix_micros($"t0")) / lit(86400000000L)))
            .cast(LongType).as("day"),
          when($"tp".isNotNull, lit(1L)).otherwise(lit(0L)).as("ev"))
      val byDay = perUser.groupBy($"day")
        .agg(sum($"ev").as("d"),
          sum(when($"arm" === 1, $"ev").otherwise(lit(0L))).as("d1"),
          count(lit(1)).as("m"),
          sum(when($"arm" === 1, 1L).otherwise(0L)).as("m1"))
      val wFwd = Window.orderBy($"day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val terms = byDay
        .withColumn("n", sum($"m").over(wFwd))
        .withColumn("n1", sum($"m1").over(wFwd))
        .filter($"d" > 0L)
        .select($"d1",
          // DECIMAL(28,12): 16 integer digits so a day with >=1e6
          // expected conversions (day-0 mass at large SFs) cannot
          // overflow — at 18,12 Spark would null while DuckDB errors
          (($"d" * $"n1").cast(DoubleType) / $"n".cast(DoubleType))
            .cast(DecimalType(28, 12)).as("e1"),
          when($"n" > 1L,
            (($"d" * $"n1").cast(DoubleType) / $"n".cast(DoubleType) *
             (($"n" - $"n1").cast(DoubleType) / $"n".cast(DoubleType)) *
             (($"n" - $"d").cast(DoubleType) / ($"n" - 1L).cast(DoubleType)))
              .cast(DecimalType(28, 12)))
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(28, 12))).as("v"))
      terms.agg(
          sum($"d1").as("o1"),
          sum($"e1").as("se1"),
          sum($"v").as("sv"))
        .select($"o1".as("observed_1"),
          round($"se1".cast(DoubleType), 6).as("expected_1"),
          round($"sv".cast(DoubleType), 6).as("variance"),
          round(
            (($"o1".cast(DoubleType) - $"se1".cast(DoubleType)) *
             ($"o1".cast(DoubleType) - $"se1".cast(DoubleType))) /
              $"sv".cast(DoubleType), 6).as("chi2"))
    },
    Some("""WITH u AS (SELECT user_id, MIN(ts) AS t0, MAX(ts) AS tl
        FROM events GROUP BY user_id),
      p AS (SELECT user_id, MIN(ts) AS tp
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      pu AS (SELECT u.user_id % 2 AS arm,
          CAST(CASE WHEN p.tp IS NOT NULL
            THEN FLOOR((epoch_us(p.tp) - epoch_us(u.t0)) / 86400000000)
            ELSE FLOOR((epoch_us(u.tl) - epoch_us(u.t0)) / 86400000000) END
            AS BIGINT) AS day,
          CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM u LEFT JOIN p ON u.user_id = p.user_id),
      bd AS (SELECT day, CAST(SUM(ev) AS BIGINT) AS d,
          CAST(SUM(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
          COUNT(*) AS m,
          CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1
        FROM pu GROUP BY day),
      r AS (SELECT day, d, d1,
          CAST(SUM(m) OVER (ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n,
          CAST(SUM(m1) OVER (ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1
        FROM bd),
      t AS (SELECT d1,
          CAST(CAST(d * n1 AS DOUBLE) / CAST(n AS DOUBLE)
            AS DECIMAL(28,12)) AS e1,
          CASE WHEN n > 1 THEN
            CAST(CAST(d * n1 AS DOUBLE) / CAST(n AS DOUBLE) *
              (CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE)) *
              (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
              AS DECIMAL(28,12))
          ELSE CAST(0 AS DECIMAL(28,12)) END AS v
        FROM r WHERE d > 0),
      a AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1, SUM(e1) AS se1,
          SUM(v) AS sv FROM t)
      SELECT o1 AS observed_1,
        ROUND(CAST(se1 AS DOUBLE), 6) AS expected_1,
        ROUND(CAST(sv AS DOUBLE), 6) AS variance,
        ROUND((CAST(o1 AS DOUBLE) - CAST(se1 AS DOUBLE)) *
          (CAST(o1 AS DOUBLE) - CAST(se1 AS DOUBLE)) /
          CAST(sv AS DOUBLE), 6) AS chi2
      FROM a""")
  )

  /** BRADLEY-TERRY pairwise-preference strengths (Bradley-Terry 1952)
    * over event-type adoption order — the ranking model behind RLHF
    * preference data and pairwise LLM evals, fitted here on "which
    * action does a user take first": user u prefers type i over j iff
    * first(i) < first(j) strictly (ties count for neither side). Three
    * rounds of Hunter's MM update p_i ← W_i / Σ_j n_ij/(p_i+p_j)
    * (Hunter 2004, "MM algorithms for generalized Bradley-Terry
    * models"), renormalized and quantized to ppm INTEGERS between
    * rounds so both engines iterate on identical state — the
    * q_nmf_topics replay discipline; the DuckDB oracle unrolls the
    * rounds as generated CTEs.
    *
    * Cross-engine FP: every per-pair term n_ij/((ppm_i+ppm_j)/10⁶) is a
    * fixed tree of integer-derived doubles cast to DECIMAL(18,12)
    * before the per-item sum (order-free); the update and the
    * renormalization each end in one floor(·10⁶+0.5) quantization.
    * GREATEST(ppm_i+ppm_j, 1) guards the denominator in both engines
    * against two co-paired types both quantizing to ppm=0.
    *
    * Scale: the only corpus-sized work is ONE (user, type) first-event
    * rollup and the user-keyed self-join bounded by |types|² per user;
    * the MM iterations run on the ≤|types|² pair panel (cached once) —
    * broadcast-sized at any corpus scale. */
  /** q_bradley_terry's engine body, factored so the spec can pin the
    * two MM-loop paths equal (gated by [[graft.operators.DriverLoop]]). */
  private[graft] def bradleyTerryFrame(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val rounds = 3
    locally {
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, LongType}
      val u5 = Tables.events(s, dir)
        .groupBy($"user_id", $"event_type")
        .agg(min($"ts").as("ft"))
      val w = u5.as("a").join(u5.as("b"),
          col("a.user_id") === col("b.user_id") &&
          col("a.event_type") =!= col("b.event_type"))
        .groupBy(col("a.event_type").as("i"), col("b.event_type").as("j"))
        .agg(sum(when(col("a.ft") < col("b.ft"), 1L).otherwise(0L)).as("w_ij"))
      val pn = graft.operators.Caches.register(
        w.as("w").join(w.as("r"),
            col("w.i") === col("r.j") && col("w.j") === col("r.i"))
          .select(col("w.i").as("i"), col("w.j").as("j"), col("w.w_ij").as("w_ij"),
            (col("w.w_ij") + col("r.w_ij")).as("n_ij"))
          .filter($"n_ij" > 0L))
      // Panel-sized MM state takes the 3 rounds in driver maps — the
      // round-15 small-state routing discipline. Replication is
      // tree-for-tree: the per-pair DECIMAL(18,12) terms reproduce
      // Spark's double→decimal cast (canonical Double.toString then
      // setScale(12, HALF_UP)), the per-item sums are exact BigDecimal
      // adds (order-free), and every quantization is the same
      // floor(·10⁶ + 0.5) over the same IEEE division tree. The
      // unrolled-CTE oracle hash-gates the trajectory at both SFs;
      // FunnelQueries' spec pins this path equal to the distributed
      // rounds below, which unbounded type domains still take.
      if (pn.count() <= DriverLoop.maxRows) {
        val rows = pn.collect().map(r =>
          (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        val winsM = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
        rows.foreach { case (i, _, wij, nij) =>
          val cur = winsM.getOrElse(i, (0L, 0L))
          winsM.update(i, (cur._1 + wij, cur._2 + nij))
        }
        val k = winsM.size
        var ppm = winsM.keys.map(i =>
          i -> math.floor(1000000.0 / k.toDouble + 0.5).toLong).toMap
        for (_ <- 1 to rounds) {
          val den = scala.collection.mutable.HashMap.empty[String, java.math.BigDecimal]
          rows.foreach { case (i, j, _, nij) =>
            val g = math.max(ppm(i) + ppm(j), 1L)
            val term = new java.math.BigDecimal(
                java.lang.Double.toString(nij.toDouble / (g.toDouble / 1000000.0)))
              .setScale(12, java.math.RoundingMode.HALF_UP)
            den.update(i, den.getOrElse(i, java.math.BigDecimal.ZERO).add(term))
          }
          val q = winsM.toMap.map { case (i, (wi, _)) =>
            i -> math.floor(wi.toDouble / den(i).doubleValue * 1000000.0 + 0.5).toLong
          }
          val st = q.values.sum
          ppm = q.map { case (i, qi) =>
            i -> math.floor((qi * 1000000L).toDouble / st.toDouble + 0.5).toLong
          }
        }
        val ranked = winsM.toSeq
          .map { case (i, (wi, ni)) => (i, wi, ni, ppm(i)) }
          // (strength desc, type asc) — the type tie compared in UTF-8
          // byte order, exactly the window's UTF8String ordering
          .sortWith { case ((ia, _, _, pa), (ib, _, _, pb)) =>
            pa > pb || (pa == pb && graft.operators.Bpe.utf8Less(ia, ib)) }
          .zipWithIndex
          .map { case ((i, wi, ni, p), idx) =>
            org.apache.spark.sql.Row(i, wi, ni, p, idx + 1) }
        import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
        return s.createDataFrame(java.util.Arrays.asList(ranked: _*),
          StructType(Seq(
            StructField("event_type", StringType, nullable = false),
            StructField("wins", LongType, nullable = false),
            StructField("n_comparisons", LongType, nullable = false),
            StructField("strength_ppm", LongType, nullable = false),
            StructField("bt_rank", IntegerType, nullable = false))))
          .orderBy($"bt_rank")
      }
      val wins = graft.operators.Caches.register(
        pn.groupBy($"i").agg(sum($"w_ij").as("wi"), sum($"n_ij").as("ni")))
      val nTypes = wins.agg(count(lit(1)).as("k"))
      // Per-round localCheckpoint (the Graphs.pagerank / q_hits
      // discipline): each round's state `p` is referenced THREE times
      // by the next round (two broadcasts into den, once via st), so
      // without truncation the lineage re-executes geometrically.
      var p = wins.crossJoin(broadcast(nTypes))
        .select($"i",
          floor(lit(1000000.0) / $"k".cast(DoubleType) + 0.5)
            .cast(LongType).as("ppm"))
        .localCheckpoint()
      for (_ <- 1 to rounds) {
        val den = pn
          .join(broadcast(p.select($"i", $"ppm".as("ppm_i"))), "i")
          .join(broadcast(p.select($"i".as("j"), $"ppm".as("ppm_j"))), "j")
          .groupBy($"i")
          .agg(sum(($"n_ij".cast(DoubleType) /
              (greatest($"ppm_i" + $"ppm_j", lit(1L)).cast(DoubleType) /
                lit(1000000.0)))
            .cast(DecimalType(18, 12))).as("den"))
        val q = den.join(broadcast(wins), "i")
          .select($"i",
            floor($"wi".cast(DoubleType) / $"den".cast(DoubleType) *
              lit(1000000.0) + 0.5).cast(LongType).as("q"))
        val st = q.agg(sum($"q").as("s"))
        p = q.crossJoin(broadcast(st))
          .select($"i",
            floor(($"q" * lit(1000000L)).cast(DoubleType) /
              $"s".cast(DoubleType) + 0.5).cast(LongType).as("ppm"))
          .localCheckpoint()
      }
      p.join(broadcast(wins), "i")
        .select($"i".as("event_type"), $"wi".as("wins"),
          $"ni".as("n_comparisons"), $"ppm".as("strength_ppm"))
        .withColumn("bt_rank",
          row_number().over(Window.orderBy($"strength_ppm".desc, $"event_type")))
        .orderBy($"bt_rank")
    }
  }

  val qBradleyTerry: GraftQuery = {
    val rounds = 3
    val sb = new StringBuilder
    sb.append("""WITH u5 AS (SELECT user_id, event_type, MIN(ts) AS ft
        FROM events GROUP BY 1, 2),
      w AS (SELECT a.event_type AS i, b.event_type AS j,
          CAST(SUM(CASE WHEN a.ft < b.ft THEN 1 ELSE 0 END) AS BIGINT) AS w_ij
        FROM u5 a JOIN u5 b
          ON a.user_id = b.user_id AND a.event_type <> b.event_type
        GROUP BY 1, 2),
      pn AS (SELECT w.i, w.j, w.w_ij, w.w_ij + r.w_ij AS n_ij
        FROM w JOIN w r ON w.i = r.j AND w.j = r.i
        WHERE w.w_ij + r.w_ij > 0),
      wins AS (SELECT i, CAST(SUM(w_ij) AS BIGINT) AS wi,
          CAST(SUM(n_ij) AS BIGINT) AS ni FROM pn GROUP BY 1),
      p0 AS (SELECT i, CAST(FLOOR(1000000.0 /
          CAST((SELECT COUNT(*) FROM wins) AS DOUBLE) + 0.5) AS BIGINT) AS ppm
        FROM wins)""")
    for (r <- 1 to rounds) {
      sb.append(s""",
      d$r AS (SELECT pn.i,
          SUM(CAST(CAST(pn.n_ij AS DOUBLE) /
            (CAST(GREATEST(pi.ppm + pj.ppm, 1) AS DOUBLE) / 1000000.0)
            AS DECIMAL(18,12))) AS den
        FROM pn JOIN p${r - 1} pi ON pn.i = pi.i
        JOIN p${r - 1} pj ON pn.j = pj.i GROUP BY 1),
      q$r AS (SELECT d.i, CAST(FLOOR(CAST(w.wi AS DOUBLE) /
            CAST(d.den AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM d$r d JOIN wins w ON d.i = w.i),
      s$r AS (SELECT CAST(SUM(q) AS BIGINT) AS s FROM q$r),
      p$r AS (SELECT i, CAST(FLOOR(CAST(q * 1000000 AS DOUBLE) /
            CAST(s AS DOUBLE) + 0.5) AS BIGINT) AS ppm FROM q$r, s$r)""")
    }
    sb.append(s"""
      SELECT p.i AS event_type, w.wi AS wins, w.ni AS n_comparisons,
        p.ppm AS strength_ppm,
        ROW_NUMBER() OVER (ORDER BY p.ppm DESC, p.i) AS bt_rank
      FROM p$rounds p JOIN wins w ON p.i = w.i
      ORDER BY bt_rank""")
    GraftQuery("q_bradley_terry",
      (s, dir) => bradleyTerryFrame(s, dir), Some(sb.toString))
  }

  val all: Seq[GraftQuery] =
    Seq(qFunnel, qRetention, qTransitions, qAttribution, qConversionPaths,
      qFunnelPathLengths, qConversionLatency, qSurvival, qAbTest,
      qMarkovAttribution, qCohortLtv, qDid, qDidEpoch, qFunnelWindowed, qBotBurst,
      qWindowDedup, qDecayScore, qMarkovEval, qShapleyAttribution,
      qSessionEntropy, qWatermarkLateness, qIpwAte, qDoublyRobust, qIpsPolicy,
      qEntropyRate, qPrecedenceMatrix, qCuped, qPowerMde, qDauWau,
      qActiveStreaks, qLogrank, qBradleyTerry)
}
