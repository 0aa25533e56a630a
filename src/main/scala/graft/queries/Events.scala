package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-time operators (SURVEY.md §2.3) over the `events` table — the
  * batch analogs of the reference's streaming consumers (the streaming
  * twins live in graft.streaming.StreamOps); here they're verified
  * exactly against DuckDB.
  *
  * Timestamp discipline: both engines are normalized to µs TimestampType
  * whatever physical type events.ts carries (see Tables.events: nanos
  * floored, NTZ cast under the UTC session). Fine-grained outputs are
  * emitted as epoch micros (unix_micros ↔ epoch_us).
  */
object Events {
  import Agg._

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Shared oracle prelude: events with µs-normalized ts (Streaming's
    * event entries use it too). */
  private[queries] val evCte =
    "WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events)"

  /** Shared strictly-after funnel stage frames (view -> click ->
    * purchase): the FIRST qualifying instant per user per stage, each
    * stage strictly after the previous stage's instant. ONE definition
    * — e7 counts stage completions, e31 measures their latency; the two
    * must agree on what a completion is. */
  private val funnelCte =
    s"""$evCte,
       |v AS (SELECT user_id, MIN(ts) AS vts FROM ev WHERE event_type = 'view' GROUP BY user_id),
       |c AS (SELECT e.user_id, MIN(e.ts) AS cts FROM ev e JOIN v ON e.user_id = v.user_id
       |      WHERE e.event_type = 'click' AND e.ts > v.vts GROUP BY e.user_id),
       |p AS (SELECT e.user_id, MIN(e.ts) AS pts FROM ev e JOIN c ON e.user_id = c.user_id
       |      WHERE e.event_type = 'purchase' AND e.ts > c.cts GROUP BY e.user_id)""".stripMargin

  /** Spark twin of [[funnelCte]]: the (v, c, p) stage frames, lazy. */
  private def funnelStages(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val e = ev(s, dir)
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("vts"))
    val c = e.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" > $"vts").groupBy($"user_id").agg(min($"ts").as("cts"))
    val p = e.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" > $"cts").groupBy($"user_id").agg(min($"ts").as("pts"))
    (v, c, p)
  }

  /** Shared 30-minute-gap batch sessionization prelude (m/sess CTEs):
    * the session definition e3 reports and e26 builds concurrency over.
    * ONE definition — a gap-threshold or tiebreak change must not fork
    * what "a session" means between the two entries. */
  private val sessionCte =
    s"""$evCte,
       |m AS (SELECT user_id, ts, event_id,
       |  CASE WHEN lag(ts) OVER w IS NULL
       |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS news
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (SELECT user_id, ts,
       |  SUM(news) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM m)""".stripMargin

  /** Shared resample base for the gap-fill family (e11 carry-forward,
    * e12 interpolate, e13 rolling mean): per-user daily counts joined
    * onto the per-user day spine, nulls on missing days. ONE definition
    * on each side — a spine change (truncation, join key) must not be
    * able to fork the resample semantics between the three variants. */
  private val spineCte =
    s"""$evCte,
       |daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |    COUNT(*) AS v FROM ev GROUP BY 1, 2),
       |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
       |alld AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
       |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
       |j AS (SELECT a.user_id, a.day, d.v FROM alld a
       |  LEFT JOIN daily d ON a.user_id = d.user_id AND a.day = d.day)""".stripMargin

  /** Spark twin of [[spineCte]]: (user_id, day, v) with nulls on the
    * spine's missing days; the spine is generated PER USER (no calendar
    * cross join), and every downstream window rides the same user_id
    * exchange as the spine join. */
  private def daySpine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = ev(s, dir)
      .groupBy($"user_id", date_trunc("day", $"ts").cast("date").as("day"))
      .agg(count(lit(1)).as("v"))
    val spine = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(sequence($"d0", $"d1",
        expr("INTERVAL 1 DAY"))).as("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
  }

  val queries: Seq[GraftQuery] = Seq(

    // ---- e1: tumbling 1-day event-time windows. Scale: window key is
    // derived per-row (no shuffle before the agg); partial agg map-side.
    GraftQuery.sql("e1_tumbling_window",
      s"""$evCte
         |SELECT CAST(date_trunc('day', ts) AS DATE) AS wday,
         |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS users,
         |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      ev(s, dir)
        .groupBy(window($"ts", "1 day").getField("start").cast("date").as("wday"))
        .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("users"),
          dsum($"value").as("total_value"))
        .orderBy($"wday")
    },

    // ---- e2: sliding windows (2-day length, 1-day slide): each event
    // lands in 2 windows — Spark expands in-row, no self-join.
    GraftQuery.sql("e2_sliding_window",
      s"""$evCte
         |SELECT CAST(date_trunc('day', ts) - o.o * INTERVAL 1 DAY AS DATE) AS wstart,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
         |FROM ev CROSS JOIN (VALUES (0), (1)) AS o(o)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      ev(s, dir)
        .groupBy(window($"ts", "2 days", "1 day").getField("start").cast("date").as("wstart"))
        .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
        .orderBy($"wstart")
    },

    // ---- e3: gap-based sessionization via Spark's native session_window.
    // Oracle reconstructs sessions with lag + running sum of session starts
    // (new session iff gap >= 30 min, matching session_window's open
    // interval [start, start+gap)).
    GraftQuery.sql("e3_session_window",
      s"""$sessionCte
         |SELECT user_id, epoch_us(MIN(ts)) AS session_start_us, COUNT(*) AS n_events
         |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
      import s.implicits._
      ev(s, dir)
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", unix_micros($"session_window.start").as("session_start_us"), $"n_events")
        .orderBy($"user_id", $"session_start_us")
    },

    // ---- e4: as-of join (latest prior click per purchase). Implemented
    // as tagged-union + running last_value — ONE shuffle on user_id, no
    // range join, scales linearly. Oracle uses the naive correlated form.
    GraftQuery.sql("e4_asof_join",
      s"""$evCte
         |SELECT p.event_id AS purchase_id, p.user_id,
         |  epoch_us(p.ts) AS purchase_us,
         |  (SELECT epoch_us(MAX(c.ts)) FROM ev c
         |   WHERE c.user_id = p.user_id AND c.event_type = 'click'
         |     AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))) AS last_click_us
         |FROM ev p WHERE p.event_type = 'purchase'
         |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir).filter($"event_type".isin("click", "purchase"))
        .select($"event_id", $"user_id", $"ts", $"event_type")
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      e.withColumn("click_ts", when($"event_type" === "click", $"ts"))
        .withColumn("last_click_ts", last($"click_ts", ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id",
          unix_micros($"ts").as("purchase_us"),
          unix_micros($"last_click_ts").as("last_click_us"))
        .orderBy($"purchase_id")
    },

    // ---- e5: time-band range join (pairs of errors within 10 min per
    // user). Equi-key on user_id keeps it a hash/sort-merge join with a
    // band residual — never a cartesian.
    GraftQuery.sql("e5_range_join",
      s"""$evCte
         |SELECT a.user_id, COUNT(*) AS n_pairs
         |FROM ev a JOIN ev b ON a.user_id = b.user_id
         |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
         |WHERE a.event_type = 'error' AND b.event_type = 'error'
         |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val err = ev(s, dir).filter($"event_type" === "error").select($"user_id", $"ts")
      val a = err.select($"user_id", $"ts".as("ts_a"))
      val b = err.select($"user_id".as("user_b"), $"ts".as("ts_b"))
      a.join(b, $"user_id" === $"user_b" && $"ts_b" > $"ts_a" &&
          $"ts_b" <= $"ts_a" + expr("INTERVAL 10 MINUTES"))
        .groupBy($"user_id").agg(count(lit(1)).as("n_pairs"))
        .orderBy($"user_id")
    },

    // ---- e6: keep-latest-per-key dedup (row_number = 1). The streaming
    // twin is dropDuplicatesWithinWatermark; batch uses one window shuffle.
    GraftQuery.sql("e6_dedup_latest",
      s"""$evCte
         |SELECT user_id, event_type, event_id, value FROM (
         |  SELECT user_id, event_type, event_id, value,
         |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM ev) t
         |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type").orderBy($"ts".desc, $"event_id".desc)
      ev(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_type", $"event_id", $"value")
        .orderBy($"user_id", $"event_type")
    },

    // ---- e7: ordered funnel view → click → purchase per user (first
    // qualifying step each stage). Three tiny aggregates + broadcast joins.
    GraftQuery.sql("e7_event_funnel",
      s"""$funnelCte
         |SELECT (SELECT COUNT(*) FROM v) AS viewed,
         |       (SELECT COUNT(*) FROM c) AS clicked,
         |       (SELECT COUNT(*) FROM p) AS purchased""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (v, c, p) = funnelStages(s, dir)
      v.agg(count(lit(1)).as("viewed"))
        .crossJoin(c.agg(count(lit(1)).as("clicked")))
        .crossJoin(p.agg(count(lit(1)).as("purchased")))
    },

    // ---- e9: cohort retention — users grouped by first-active week,
    // counted per week-since-cohort. Two aggregates + one equi-join on
    // user_id; weeks are aligned so the day-diff is an exact multiple
    // of 7 on both engines.
    GraftQuery.sql("e9_retention",
      s"""$evCte,
         |fw AS (SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
         |       FROM ev GROUP BY user_id),
         |act AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM ev)
         |SELECT f.cohort AS cohort_week,
         |  CAST((a.wk - f.cohort) / 7 AS BIGINT) AS week_n,
         |  COUNT(*) AS active_users
         |FROM fw f JOIN act a ON f.user_id = a.user_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val fw = e.groupBy($"user_id")
        .agg(date_trunc("week", min($"ts")).cast("date").as("cohort"))
      val act = e.select($"user_id", date_trunc("week", $"ts").cast("date").as("wk"))
        .distinct()
      fw.join(act, "user_id")
        .groupBy($"cohort".as("cohort_week"),
          (datediff($"wk", $"cohort") / 7).cast("long").as("week_n"))
        .agg(count(lit(1)).as("active_users"))
        .orderBy($"cohort_week", $"week_n")
    },

    // ---- e10: gaps-and-islands — longest consecutive-day activity
    // streak per user, distribution by streak length. The island key is
    // date - row_number (constant within a run of consecutive days);
    // one shuffle on user_id, windows and aggregates share it.
    GraftQuery.sql("e10_activity_streaks",
      s"""$evCte,
         |days AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM ev),
         |isl AS (SELECT user_id, d,
         |  d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
         |  FROM days),
         |streaks AS (SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY user_id, grp),
         |best AS (SELECT user_id, MAX(len) AS best_streak FROM streaks GROUP BY user_id)
         |SELECT best_streak, COUNT(*) AS n_users
         |FROM best GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val days = ev(s, dir)
        .select($"user_id", date_trunc("day", $"ts").cast("date").as("d"))
        .distinct()
      val w = Window.partitionBy($"user_id").orderBy($"d")
      val isl = days.withColumn("grp", date_sub($"d", row_number().over(w)))
      val best = isl.groupBy($"user_id", $"grp").agg(count(lit(1)).as("len"))
        .groupBy($"user_id").agg(max($"len").as("best_streak"))
      best.groupBy($"best_streak").agg(count(lit(1)).as("n_users"))
        .orderBy($"best_streak")
    },

    // ---- e11: gap-fill / resampling — regularize each user's sparse
    // daily activity into a dense day series, carrying the last observed
    // count forward over missing days (the time-series prep step before
    // any per-entity sequence model). All-integer signals so the oracle
    // is hash-exact. Scale: the day spine is generated per user (no
    // cross join against a calendar table), the fill is one window over
    // the same user_id shuffle as the spine join.
    GraftQuery.sql("e11_gap_fill",
      s"""$spineCte,
         |f AS (SELECT user_id, day, v,
         |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
         |  FROM j)
         |SELECT user_id, COUNT(*) AS n_days,
         |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
         |  CAST(SUM(fv) AS BIGINT) AS sum_filled
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daySpine(s, dir)
        .withColumn("fv", last($"v", ignoreNulls = true).over(w))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_days"),
          sum(when($"v".isNull, 1L).otherwise(0L)).as("n_filled"),
          sum($"fv").as("sum_filled"))
        .orderBy($"user_id")
    },

    // ---- e12: gap-fill with LINEAR interpolation — e11's dense day
    // spine, but interior gaps take the line between the surrounding
    // observations instead of carrying the last one forward. Exactness
    // discipline: interpolated values are emitted as an UNREDUCED exact
    // rational (num, den) — num = v_prev·(d_next−d) + v_next·(d−d_prev),
    // den = d_next−d_prev — so the output is all-integer and hash-exact
    // (engine-native division would diverge in the last ulp). Observed
    // days are (v, 1); a trailing gap (nothing observed after) falls
    // back to carry-forward (v_prev, 1). Scale: one shuffle on user_id;
    // the forward and backward windows reuse the same exchange, and the
    // spine is generated per user (no calendar cross join).
    GraftQuery.sql("e12_gap_interpolate",
      s"""$spineCte,
         |f AS (SELECT user_id, day, v,
         |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wb AS pd,
         |    last_value(v IGNORE NULLS) OVER wb AS pv,
         |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wf AS nd,
         |    first_value(v IGNORE NULLS) OVER wf AS nv
         |  FROM j
         |  WINDOW wb AS (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wf AS (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, day,
         |  CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed,
         |  CAST(CASE WHEN v IS NOT NULL THEN v
         |       WHEN nv IS NULL THEN pv
         |       ELSE pv * date_diff('day', day, nd) + nv * date_diff('day', pd, day)
         |       END AS BIGINT) AS num,
         |  CAST(CASE WHEN v IS NOT NULL OR nv IS NULL THEN 1
         |       ELSE date_diff('day', pd, nd) END AS BIGINT) AS den
         |FROM f ORDER BY user_id, day""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wb = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obs = when($"v".isNotNull, struct($"day", $"v"))
      daySpine(s, dir)
        .withColumn("p", last(obs, ignoreNulls = true).over(wb))
        .withColumn("nx", first(obs, ignoreNulls = true).over(wf))
        .select($"user_id", $"day",
          when($"v".isNotNull, 1L).otherwise(0L).as("observed"),
          when($"v".isNotNull, $"v")
            .when($"nx".isNull, $"p.v")
            .otherwise($"p.v" * datediff($"nx.day", $"day")
              + $"nx.v" * datediff($"day", $"p.day"))
            .cast("long").as("num"),
          when($"v".isNotNull || $"nx".isNull, lit(1))
            .otherwise(datediff($"nx.day", $"p.day"))
            .cast("long").as("den"))
        .orderBy($"user_id", $"day")
    },

    // ---- e13: gap-fill with a CENTERED ROLLING MEAN — e11's dense day
    // spine, but each day reports the mean of the OBSERVED values within
    // ±3 days (the smoothing/denoising resample used before sequence
    // models, vs e11's carry-forward and e12's line). Exactness
    // discipline as e12: the mean is emitted as the exact rational
    // (window sum, window observed-count) so the output is all-integer
    // and hash-exact; days with no observation within ±3 days emit
    // (0, 0). Scale: the dense spine makes the ±3-day window a ±3 ROWS
    // frame, so both aggregates ride the SAME user_id exchange as the
    // spine join — one shuffle total.
    GraftQuery.sql("e13_gap_fill_mean",
      s"""$spineCte,
         |f AS (SELECT user_id, day,
         |    CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed,
         |    COALESCE(SUM(v) OVER wc, 0) AS num,
         |    COUNT(v) OVER wc AS den
         |  FROM j
         |  WINDOW wc AS (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
         |SELECT user_id, day, CAST(observed AS BIGINT) AS observed,
         |  CAST(num AS BIGINT) AS num, CAST(den AS BIGINT) AS den
         |FROM f ORDER BY user_id, day""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wc = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(-3, 3)
      daySpine(s, dir)
        .select($"user_id", $"day",
          when($"v".isNotNull, 1L).otherwise(0L).as("observed"),
          coalesce(sum($"v").over(wc), lit(0L)).cast("long").as("num"),
          count($"v").over(wc).cast("long").as("den"))
        .orderBy($"user_id", $"day")
    },

    // ---- e14: FORWARD as-of join with a tolerance band — for every
    // click, the next purchase at or after it by the same user, kept
    // only when it lands within 30 minutes (the "time-to-convert"
    // attachment; e4 is the backward direction). Runs through
    // operators.AsOfJoin.earliestAtOrAfter: one shuffle on user_id, a
    // single time-descending window pass — no range join, no per-row
    // subquery (the oracle's correlated MIN is exactly the shape that
    // does NOT survive 100 TB). Tiebreaker: same-instant purchases
    // resolve to the smallest event_id, deterministically.
    GraftQuery.sql("e14_asof_forward",
      s"""$evCte,
         |c AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
         |m AS (SELECT c.event_id AS click_id, c.user_id, c.ts AS cts,
         |    (SELECT MIN(p.ts) FROM ev p WHERE p.user_id = c.user_id
         |       AND p.event_type = 'purchase' AND p.ts >= c.ts) AS pts
         |  FROM c)
         |SELECT click_id, user_id, epoch_us(cts) AS click_us,
         |  CASE WHEN pts IS NOT NULL AND pts <= cts + INTERVAL 30 MINUTE THEN
         |    (SELECT MIN(p2.event_id) FROM ev p2 WHERE p2.user_id = m.user_id
         |       AND p2.event_type = 'purchase' AND p2.ts = m.pts) END AS purchase_id,
         |  CASE WHEN pts IS NOT NULL AND pts <= cts + INTERVAL 30 MINUTE
         |    THEN epoch_us(pts) END AS purchase_us
         |FROM m ORDER BY click_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val clicks = ev(s, dir).filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"ts")
      val purchases = ev(s, dir).filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("p_ts"))
      graft.operators.AsOfJoin.earliestAtOrAfter(
          clicks, purchases, keys = Seq("user_id"),
          leftTs = "ts", rightTs = "p_ts",
          valueCols = Seq("purchase_id", "p_ts"),
          tiebreaker = Some("purchase_id"))
        .withColumn("in_band",
          $"p_ts".isNotNull && $"p_ts" <= $"ts" + expr("INTERVAL 30 MINUTES"))
        .select($"event_id".as("click_id"), $"user_id",
          unix_micros($"ts").as("click_us"),
          when($"in_band", $"purchase_id").as("purchase_id"),
          when($"in_band", unix_micros($"p_ts")).as("purchase_us"))
        .orderBy($"click_id")
    },

    // ---- e15: quantiles via MERGEABLE fixed-bin histograms — per day,
    // the value distribution collapses to 50 width-10 bin counts and
    // P50/P95 are read off the cumulative histogram. This is the shape
    // quantiles take at 100 TB: q20's exact per-group percentile needs
    // the group's values materialized together (a sort per group),
    // where a fixed-bin histogram is a constant-size, associatively
    // MERGEABLE summary — partial-aggregated map-side, mergeable across
    // days/hosts/reruns — at the cost of bin-width resolution. All the
    // threshold math is integer (2·cum ≥ n, 20·cum ≥ 19·n), so the
    // estimates are deterministic and hash-exact.
    GraftQuery.sql("e15_mergeable_quantiles",
      s"""$evCte,
         |b AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |    CAST(FLOOR(value / 10) AS BIGINT) AS bin, COUNT(*) AS c
         |  FROM ev GROUP BY 1, 2),
         |cum AS (SELECT day, bin, c,
         |    SUM(c) OVER (PARTITION BY day ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(c) OVER (PARTITION BY day) AS n
         |  FROM b)
         |SELECT day, CAST(MAX(n) AS BIGINT) AS n,
         |  CAST(MIN(CASE WHEN 2 * cum >= n THEN bin * 10 END) AS BIGINT) AS p50_lo,
         |  CAST(MIN(CASE WHEN 20 * cum >= 19 * n THEN bin * 10 END) AS BIGINT) AS p95_lo
         |FROM cum GROUP BY day ORDER BY day""".stripMargin) { (s, dir) =>
      import s.implicits._
      val binned = ev(s, dir)
        .groupBy(date_trunc("day", $"ts").cast("date").as("day"),
          floor($"value" / 10).cast("long").as("bin"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy($"day").orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"day")
      binned
        .withColumn("cum", sum($"c").over(wCum))
        .withColumn("n", sum($"c").over(wAll))
        .groupBy($"day")
        .agg(max($"n").as("n"),
          min(when($"cum" * 2 >= $"n", $"bin" * 10)).as("p50_lo"),
          min(when($"cum" * 20 >= $"n" * 19, $"bin" * 10)).as("p95_lo"))
        .orderBy($"day")
    },

    // ---- e16: OHLC bars — the canonical time-series downsample: per
    // (user, day), the first/highest/lowest/last observed value with a
    // deterministic (ts, event_id) total order for open/close. Values
    // pass through untouched (no arithmetic), so parity is trivial.
    // Scale shape: both window functions and the final aggregate ride
    // ONE (user_id, day)-keyed exchange; min/max partial-aggregate
    // map-side. This is the resample that turns a 100 TB tick stream
    // into a bar table without ever sorting globally.
    GraftQuery.sql("e16_ohlc_bars",
      s"""$evCte,
         |o AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
         |    ROW_NUMBER() OVER w AS rn_open,
         |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
         |      ORDER BY ts DESC, event_id DESC) AS rn_close
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
         |    ORDER BY ts, event_id))
         |SELECT user_id, day,
         |  MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
         |  MAX(value) AS high, MIN(value) AS low,
         |  MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
         |  COUNT(*) AS n
         |FROM o GROUP BY user_id, day ORDER BY user_id, day""".stripMargin) { (s, dir) =>
      import s.implicits._
      val withDay = ev(s, dir)
        .select($"user_id", date_trunc("day", $"ts").cast("date").as("day"),
          $"ts", $"event_id", $"value")
      val wAsc = Window.partitionBy($"user_id", $"day").orderBy($"ts", $"event_id")
      val wDesc = Window.partitionBy($"user_id", $"day")
        .orderBy($"ts".desc, $"event_id".desc)
      withDay
        .withColumn("rn_open", row_number().over(wAsc))
        .withColumn("rn_close", row_number().over(wDesc))
        .groupBy($"user_id", $"day")
        .agg(max(when($"rn_open" === 1, $"value")).as("open"),
          max($"value").as("high"), min($"value").as("low"),
          max(when($"rn_close" === 1, $"value")).as("close"),
          count(lit(1)).as("n"))
        .orderBy($"user_id", $"day")
    },

    // ---- e17: per-user 3-sigma anomaly flags in EXACT integer algebra.
    // |v - mean| > 3·sigma_pop is squared and cleared of divisions:
    //   (n·v - S)² > 9·(n·Q - S²)     with S = Σv, Q = Σv² per user,
    // so no sqrt, no float compare — the flag is bit-identical across
    // engines (values scaled to exact integer micros first; the events
    // generator emits ≤6-decimal values so the DECIMAL(18,6) cast is
    // exact). Spark carries the big products in DECIMAL(38,0) (max
    // magnitude ~1e25 at sf1), the oracle in HUGEINT. Scale shape: one
    // partial-agg shuffle builds the per-user stats, then stats join
    // back to events — AQE broadcasts the stats side when users ≪
    // events, so there is no per-user window sort over the fact table.
    GraftQuery.sql("e17_outlier_events",
      s"""$evCte,
         |b AS (SELECT user_id, event_id, value,
         |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS vi FROM ev),
         |st AS (SELECT user_id, COUNT(*) AS n, SUM(vi) AS s, SUM(vi * vi) AS q
         |  FROM b GROUP BY user_id)
         |SELECT b.user_id, b.event_id, b.value, CAST(st.n AS BIGINT) AS n_user_events
         |FROM b JOIN st USING (user_id)
         |WHERE (st.n * b.vi - st.s) * (st.n * b.vi - st.s) > 9 * (st.n * st.q - st.s * st.s)
         |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val b = ev(s, dir).select($"user_id", $"event_id", $"value",
        ($"value".cast(DecimalType(18, 6)) * 1000000).cast("long").as("vi"))
      // vi ≤ 5.7e8 so vi² ≤ 3.3e17 stays in LONG; the SUM crosses into
      // DECIMAL(38,0) (per-user Q reaches ~2e21 at sf1).
      val st = b.groupBy($"user_id").agg(
        count(lit(1)).as("n"),
        sum($"vi").as("s"),
        sum(($"vi" * $"vi").cast(DecimalType(38, 0))).as("q"))
      val d = ($"n" * $"vi" - $"s").cast(DecimalType(38, 0))
      val rhs = $"n".cast(DecimalType(38, 0)) * $"q" -
        $"s".cast(DecimalType(38, 0)) * $"s".cast(DecimalType(38, 0))
      b.join(st, "user_id")
        .filter(d * d > lit(9) * rhs)
        .select($"user_id", $"event_id", $"value", $"n".as("n_user_events"))
        .orderBy($"user_id", $"event_id")
    },

    // ---- e18: RUNNING 3-sigma outliers — e17's test against only the
    // events BEFORE each event (prefix stats in event-time order), the
    // batch twin of the online detector s14 runs in per-user state.
    // Values are exact integer cents (the generator emits 2-decimal
    // values), so every quantity fits BIGINT on both engines: n·vi ≤
    // ~4e8 at sf1, squared ~1.4e17 < 2^63. minPrior=30 suppresses the
    // small-sample noise floor. Scale shape: one (user_id) exchange
    // carries all three prefix aggregates in a single window pass.
    GraftQuery.sql("e18_running_outliers",
      s"""$evCte,
         |b AS (SELECT user_id, event_id, ts, value,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vi FROM ev),
         |w AS (SELECT user_id, event_id, value, vi,
         |    COUNT(*) OVER pre AS n,
         |    COALESCE(SUM(vi) OVER pre, 0) AS s,
         |    COALESCE(SUM(vi * vi) OVER pre, 0) AS q
         |  FROM b
         |  WINDOW pre AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT user_id, event_id, value, CAST(n AS BIGINT) AS n_prior
         |FROM w
         |WHERE n >= 30 AND (n * vi - s) * (n * vi - s) > 9 * (n * q - s * s)
         |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val b = ev(s, dir).select($"user_id", $"event_id", $"ts", $"value",
        ($"value".cast(DecimalType(18, 2)) * 100).cast("long").as("vi"))
      val pre = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      b.select($"user_id", $"event_id", $"value", $"vi",
          count(lit(1)).over(pre).as("n"),
          coalesce(sum($"vi").over(pre), lit(0L)).as("s"),
          coalesce(sum($"vi" * $"vi").over(pre), lit(0L)).as("q"))
        .filter($"n" >= 30 &&
          ($"n" * $"vi" - $"s") * ($"n" * $"vi" - $"s") >
            lit(9) * ($"n" * $"q" - $"s" * $"s"))
        .select($"user_id", $"event_id", $"value", $"n".as("n_prior"))
        .orderBy($"user_id", $"event_id")
    },

    // ---- e19: week-over-week drift — flag (user, week) cells whose
    // mean value moved more than 50% against the previous active week.
    // The comparison is cleared of divisions by cross-multiplying:
    //   |S_w·n_prev − S_prev·n_w| · 2 > S_prev·n_w
    // over integer cents (values are non-negative), so the flag is
    // exact on both engines. Scale shape: per-(user, week) partial
    // aggregate (the only corpus-sized exchange), then lag over the
    // per-user week series — the window sorts week SUMMARIES, never
    // events.
    GraftQuery.sql("e19_weekly_drift",
      s"""$evCte,
         |b AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vi FROM ev),
         |wk AS (SELECT user_id, week, COUNT(*) AS n, SUM(vi) AS s
         |  FROM b GROUP BY 1, 2),
         |lagd AS (SELECT user_id, week, n, s,
         |    LAG(n) OVER w AS pn, LAG(s) OVER w AS ps
         |  FROM wk WINDOW w AS (PARTITION BY user_id ORDER BY week))
         |SELECT user_id, week, CAST(n AS BIGINT) AS n_events,
         |  CAST(s AS BIGINT) AS sum_cents,
         |  CAST(CASE WHEN pn IS NOT NULL
         |       AND abs(s * pn - ps * n) * 2 > ps * n
         |       THEN 1 ELSE 0 END AS BIGINT) AS drifted
         |FROM lagd ORDER BY user_id, week""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wk = ev(s, dir)
        .select($"user_id", date_trunc("week", $"ts").cast("date").as("week"),
          ($"value".cast(DecimalType(18, 2)) * 100).cast("long").as("vi"))
        .groupBy($"user_id", $"week")
        .agg(count(lit(1)).as("n"), sum($"vi").as("s"))
      val w = Window.partitionBy($"user_id").orderBy($"week")
      wk.withColumn("pn", lag($"n", 1).over(w))
        .withColumn("ps", lag($"s", 1).over(w))
        .select($"user_id", $"week", $"n".as("n_events"), $"s".as("sum_cents"),
          ($"pn".isNotNull &&
            abs($"s" * $"pn" - $"ps" * $"n") * 2 > $"ps" * $"n")
            .cast("long").as("drifted"))
        .orderBy($"user_id", $"week")
    },

    // ---- e20: change-point detection per user (Pettitt-style CUSUM
    // split statistic) in EXACT integer algebra: over each user's daily
    // sums (cents), the deviation of every prefix from the user's
    // overall rate is D_i = |S_i·N − i·S_N| (cross-multiplied — no
    // division, no float); the argmax locates the most likely change
    // day, flagged when 8·maxD > S_N·N (relative shift > 1/8). Bounds:
    // S_N ≤ events·max_value·100 ≲ 2^37 here and N ≤ days ≲ 2^10, so
    // D stays far under 2^63 (at petabyte row counts promote to
    // DECIMAL(38,0) — same algebra). Completes the time-series family:
    // e17/e18 flag point outliers, e19 flags step drift week-over-week,
    // e20 locates the single most likely LEVEL SHIFT per series.
    // Scale shape: daily partial aggregate first (events collapse
    // map-side), then all four windows — prefix index, prefix sum,
    // partition totals, argmax rank — ride ONE user_id exchange; no
    // event-level window, no join, no collect.
    GraftQuery.sql("e20_change_point",
      s"""$evCte,
         |b AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS vi
         |  FROM ev GROUP BY 1, 2),
         |p AS (SELECT user_id, day, vi,
         |    ROW_NUMBER() OVER w AS i,
         |    SUM(vi) OVER (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp,
         |    COUNT(*) OVER (PARTITION BY user_id) AS nd,
         |    SUM(vi) OVER (PARTITION BY user_id) AS st
         |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY day)),
         |d AS (SELECT user_id, day, nd, st,
         |    abs(sp * nd - i * st) AS dev,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY abs(sp * nd - i * st) DESC, day) AS rk
         |  FROM p)
         |SELECT user_id, CAST(nd AS BIGINT) AS n_days, day AS split_day,
         |  CAST(dev AS BIGINT) AS max_dev,
         |  CAST(CASE WHEN dev * 8 > st * nd THEN 1 ELSE 0 END AS BIGINT) AS changed
         |FROM d WHERE rk = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val b = ev(s, dir)
        .select($"user_id", date_trunc("day", $"ts").cast("date").as("day"),
          ($"value".cast(DecimalType(18, 2)) * 100).cast("long").as("vi"))
        .groupBy($"user_id", $"day")
        .agg(sum($"vi").as("vi"))
      val wOrd = Window.partitionBy($"user_id").orderBy($"day")
      val wAll = Window.partitionBy($"user_id")
      val p = b
        .withColumn("i", row_number().over(wOrd))
        .withColumn("sp", sum($"vi").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("nd", count(lit(1)).over(wAll))
        .withColumn("st", sum($"vi").over(wAll))
        .withColumn("dev", abs($"sp" * $"nd" - $"i" * $"st"))
      p.withColumn("rk", row_number().over(
          Window.partitionBy($"user_id").orderBy($"dev".desc, $"day")))
        .filter($"rk" === 1)
        .select($"user_id", $"nd".cast("long").as("n_days"),
          $"day".as("split_day"), $"dev".as("max_dev"),
          ($"dev" * 8 > $"st" * $"nd").cast("long").as("changed"))
        .orderBy($"user_id")
    },

    // ---- e8: semi-structured extraction — JSON props parsed in-plan
    // (codegen'd get_json_object; no UDF), aggregated per type. At scale
    // the JSON never leaves the scan stage: extraction happens before
    // the (tiny) partial-aggregated shuffle.
    GraftQuery.sql("e8_json_extract",
      """SELECT event_type,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(props->>'k' AS BIGINT)) AS max_k,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "events")
        .select($"event_type",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), max($"k").as("max_k"), count(lit(1)).as("n"))
        .orderBy($"event_type")
    },

    // ---- e21: multi-touch attribution (the marketing-analytics report
    // e4/e14's single-sided as-ofs lead into): each purchase's value is
    // split EQUALLY across all of the user's clicks in the preceding
    // 3-day horizon, in exact integer cents — each touch gets cents div
    // n, the LATEST touch (max (ts, event_id)) also takes cents mod n,
    // so per-purchase credit sums to the purchase exactly and the
    // per-(user, click-day) report is bit-deterministic. Orphan
    // purchases (no touch in horizon) are excluded by the inner join.
    // Scale shape: the touch join is a per-user range join whose fanout
    // is bounded by horizon x per-user click rate (e5's bound), the
    // per-purchase count/rank rides ONE purchase-keyed exchange, and
    // the report is one (user, day) rollup — nothing corpus-quadratic.
    GraftQuery.sql("e21_attribution",
      s"""$evCte,
         |c AS (SELECT event_id AS cid, user_id, ts AS cts FROM ev
         |  WHERE event_type = 'click'),
         |p AS (SELECT event_id AS pid, user_id, ts AS pts,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM ev WHERE event_type = 'purchase'),
         |t AS (SELECT p.pid, p.user_id, p.cents, c.cid, c.cts,
         |    COUNT(*) OVER (PARTITION BY p.pid) AS n,
         |    ROW_NUMBER() OVER (PARTITION BY p.pid
         |      ORDER BY c.cts DESC, c.cid DESC) AS rk
         |  FROM p JOIN c ON p.user_id = c.user_id
         |    AND c.cts < p.pts AND c.cts >= p.pts - INTERVAL 3 DAY),
         |cr AS (SELECT user_id, cid, cts,
         |    cents // n + CASE WHEN rk = 1 THEN cents % n ELSE 0 END AS credit
         |  FROM t)
         |SELECT user_id, CAST(date_trunc('day', cts) AS DATE) AS day,
         |  COUNT(DISTINCT cid) AS n_credited_clicks,
         |  CAST(SUM(credit) AS BIGINT) AS attributed_cents
         |FROM cr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("cid"), $"ts".as("cts"))
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("pid"), $"ts".as("pts"),
          ($"value".cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      val touches = purchases.join(clicks, Seq("user_id"))
        .filter($"cts" < $"pts" && $"cts" >= $"pts" - expr("INTERVAL 3 DAYS"))
      val wN = Window.partitionBy($"pid")
      val wRk = Window.partitionBy($"pid").orderBy($"cts".desc, $"cid".desc)
      touches
        .withColumn("n", count(lit(1)).over(wN))
        .withColumn("rk", row_number().over(wRk))
        .select($"user_id", $"cid", $"cts",
          (expr("cents div n") +
            when($"rk" === 1, $"cents" % $"n").otherwise(0L)).as("credit"))
        .groupBy($"user_id", date_trunc("day", $"cts").cast("date").as("day"))
        .agg(countDistinct($"cid").as("n_credited_clicks"),
          sum($"credit").as("attributed_cents"))
        .orderBy($"user_id", $"day")
    },

    // ---- e22: EWMA smoothing (α = 1/2) with the kernel truncated at
    // 8 taps, zero-padded before the series start — the truncation is
    // what makes the op EXACT and streamable: weights become the
    // integer kernel 128·x₀ + 64·x₁ + … + 1·x₇ over cents (denominator
    // 2⁸ carried in the column name), so there's no float recursion,
    // and the streaming twin (s20) needs only seven longs of state per
    // user. Dropped taps carry < 1/256 ≈ 0.4% of the weight. Scale
    // shape: ONE user-keyed exchange, one sort, all eight taps read
    // from the same window frame — the lag chain adds no extra
    // shuffles or sorts.
    GraftQuery.sql("e22_ewma_smooth",
      s"""$evCte,
         |b AS (SELECT user_id, event_id, ts,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vi FROM ev),
         |l AS (SELECT user_id, event_id, vi,
         |    COALESCE(LAG(vi, 1) OVER w, 0) AS l1,
         |    COALESCE(LAG(vi, 2) OVER w, 0) AS l2,
         |    COALESCE(LAG(vi, 3) OVER w, 0) AS l3,
         |    COALESCE(LAG(vi, 4) OVER w, 0) AS l4,
         |    COALESCE(LAG(vi, 5) OVER w, 0) AS l5,
         |    COALESCE(LAG(vi, 6) OVER w, 0) AS l6,
         |    COALESCE(LAG(vi, 7) OVER w, 0) AS l7
         |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, event_id,
         |  vi*128 + l1*64 + l2*32 + l3*16 + l4*8 + l5*4 + l6*2 + l7 AS ewma_x256
         |FROM l ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val b = ev(s, dir).select($"user_id", $"event_id", $"ts",
        ($"value".cast(DecimalType(18, 2)) * 100).cast("long").as("vi"))
      val taps = (1 to 7).map(j => coalesce(lag($"vi", j).over(w), lit(0L)))
      b.select($"user_id", $"event_id",
          taps.zip(Seq(64L, 32L, 16L, 8L, 4L, 2L, 1L))
            .foldLeft($"vi" * 128L) { case (acc, (t, c)) => acc + t * c }
            .as("ewma_x256"))
        .orderBy($"user_id", $"event_id")
    },

    // ---- e23: lag-1 autocorrelation of each user's daily spend,
    // DIVISION-FREE (e19's cross-multiplication discipline): with n
    // days, S = Σsd, the mean-centered products are computed as
    // (n·sd_t − S)(n·sd_{t−1} − S) — i.e. scaled by n², which cancels
    // in the ratio — so positivity (momentum vs mean-reversion) and
    // the |r| > 1/4 magnitude flag are exact integer/decimal compares,
    // no float division anywhere. Terms are cast to DECIMAL(38,0)
    // before squaring: at 100 TB scale n·sd can reach ~2^40 and the
    // summed squares ~10^25, far past BIGINT but comfortable in 38
    // digits. Both engines stay exact there (int128-backed DECIMAL in
    // DuckDB as in Spark), and neither silently degrades to float past
    // 38 digits — but their FAILURE modes differ: DuckDB raises, while
    // Spark under the default spark.sql.ansi.enabled=false returns
    // NULL on decimal overflow, which would silently drop the
    // overflowed term from the sums. The driver's hash compare makes
    // that divergence loud (a Spark-side NULL can't match DuckDB's
    // exact value), and running with ANSI mode on upgrades it to a
    // hard error. Scale shape: the daily rollup is one (user, day)
    // partial-agg exchange; the lag + per-user stats ride ONE
    // user-keyed window; the final rollup is tiny.
    GraftQuery.sql("e23_autocorr_flag",
      s"""$evCte,
         |b AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vi FROM ev),
         |d AS (SELECT user_id, day, SUM(vi) AS sd FROM b GROUP BY 1, 2),
         |t AS (SELECT user_id, day, sd,
         |    LAG(sd) OVER u AS ps,
         |    COUNT(*) OVER (PARTITION BY user_id) AS n,
         |    SUM(sd) OVER (PARTITION BY user_id) AS s
         |  FROM d WINDOW u AS (PARTITION BY user_id ORDER BY day)),
         |agg AS (SELECT user_id, MAX(n) AS n_days,
         |    SUM(CASE WHEN ps IS NOT NULL THEN
         |      CAST(n*sd - s AS DECIMAL(38,0)) * CAST(n*ps - s AS DECIMAL(38,0))
         |      END) AS num,
         |    SUM(CAST(n*sd - s AS DECIMAL(38,0)) * CAST(n*sd - s AS DECIMAL(38,0))) AS den
         |  FROM t GROUP BY 1)
         |SELECT user_id, CAST(n_days AS BIGINT) AS n_days,
         |  (num > 0) AS pos_corr, (4 * abs(num) > den) AS strong
         |FROM agg WHERE den > 0 ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val daily = ev(s, dir)
        .select($"user_id", date_trunc("day", $"ts").cast("date").as("day"),
          ($"value".cast(DecimalType(18, 2)) * 100).cast("long").as("vi"))
        .groupBy($"user_id", $"day").agg(sum($"vi").as("sd"))
      val u = Window.partitionBy($"user_id")
      val dec = DecimalType(38, 0)
      val t = daily
        .withColumn("ps", lag($"sd", 1).over(u.orderBy($"day")))
        .withColumn("n", count(lit(1)).over(u))
        .withColumn("s", sum($"sd").over(u))
        .withColumn("ct", ($"n" * $"sd" - $"s").cast(dec))
        .withColumn("cp", ($"n" * $"ps" - $"s").cast(dec))
      t.groupBy($"user_id")
        .agg(max($"n").as("n_days"),
          sum(when($"ps".isNotNull, $"ct" * $"cp")).as("num"),
          sum($"ct" * $"ct").as("den"))
        .filter($"den" > 0)
        .select($"user_id", $"n_days".cast("long").as("n_days"),
          ($"num" > 0).as("pos_corr"), (abs($"num") * 4 > $"den").as("strong"))
        .orderBy($"user_id")
    },

    // ---- e24: the as-of join AT PLAN LEVEL — e4's semantics through
    // graft's custom Catalyst operator (plans.AsOfJoinPlan: LogicalPlan
    // + SparkStrategy + streaming-merge SparkPlan) instead of the
    // composed union+window. Each side shuffles ONLY itself
    // (co-partitioned exchanges, a sort-merge join's shape) and the
    // per-partition resolve is a two-pointer merge with one buffered
    // row of state — no union materialization, no window buffer. Ties
    // at the instant are INCLUDED (at-or-before, vs e4's
    // strict-before), greatest click_id wins same-instant ties, so the
    // oracle is the windowed argmax over c.ts <= p.ts. AsOfPlanSpec
    // pins row parity with operators.AsOfJoin and the physical shape.
    GraftQuery.sql("e24_asof_exec",
      s"""$evCte,
         |clicks AS (SELECT user_id, ts, event_id FROM ev
         |           WHERE event_type = 'click'),
         |purch AS (SELECT event_id, user_id, ts FROM ev
         |          WHERE event_type = 'purchase'),
         |m AS (SELECT p.event_id AS purchase_id, c.ts AS cts,
         |        c.event_id AS cid,
         |        ROW_NUMBER() OVER (PARTITION BY p.event_id
         |          ORDER BY c.ts DESC, c.event_id DESC) AS rk
         |      FROM purch p JOIN clicks c
         |        ON c.user_id = p.user_id AND c.ts <= p.ts)
         |SELECT p.event_id AS purchase_id, p.user_id,
         |  epoch_us(p.ts) AS purchase_us,
         |  epoch_us(m.cts) AS click_us, m.cid AS click_id
         |FROM purch p LEFT JOIN (SELECT * FROM m WHERE rk = 1) m
         |  ON m.purchase_id = p.event_id
         |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir).filter($"event_type".isin("click", "purchase"))
      val purchases = e.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
      graft.plans.AsOfJoinPlan.latestAtOrBefore(purchases, clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "click_ts",
          valueCols = Seq("click_ts", "click_id"),
          tiebreaker = Some("click_id"))
        .select($"event_id".as("purchase_id"), $"user_id",
          unix_micros($"ts").as("purchase_us"),
          unix_micros($"click_ts").as("click_us"), $"click_id")
        .orderBy($"purchase_id")
    },

    // ---- e25: time-weighted average (TWAP) of each user's value —
    // the step-function integral ÷ observation span, the event-time
    // mean that ISN'T row-weighted (a value that held for an hour
    // counts 3600× one that held a second). EXACT in fixed point:
    // values as integer cents, durations as integer micros, the
    // integral summed in DECIMAL(38,0) (cents·µs ≈ 1e17 per term — far
    // past BIGINT at scale, comfortable in 38 digits), the final
    // micro-cents quotient one integer division — values are positive
    // so floor and truncate agree across engines. Scale shape: the
    // lead() and the per-user rollup ride ONE user-keyed exchange; no
    // self-join, no correlated subquery.
    GraftQuery.sql("e25_twap",
      s"""$evCte,
         |v AS (SELECT user_id, ts, event_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM ev),
         |l AS (SELECT user_id, cents, epoch_us(ts) AS t_us,
         |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS next_us
         |  FROM v),
         |a AS (SELECT user_id, COUNT(*) AS n_events,
         |    SUM(CASE WHEN next_us IS NOT NULL THEN
         |      CAST(cents AS DECIMAL(38,0)) * (next_us - t_us) END) AS num,
         |    MAX(t_us) - MIN(t_us) AS span_us
         |  FROM l GROUP BY 1)
         |SELECT user_id, n_events, CAST(span_us AS BIGINT) AS span_us,
         |  CAST(CAST(num AS HUGEINT) * 1000000 // CAST(span_us AS HUGEINT)
         |       AS BIGINT) AS twap_ucents
         |FROM a WHERE span_us > 0 ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val dec = DecimalType(38, 0)
      ev(s, dir)
        .select($"user_id", $"ts", $"event_id",
          ($"value".cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
        .withColumn("t_us", unix_micros($"ts"))
        .withColumn("next_us", lead($"t_us", 1).over(w))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when($"next_us".isNotNull,
            $"cents".cast(dec) * ($"next_us" - $"t_us"))).as("num"),
          (max($"t_us") - min($"t_us")).as("span_us"))
        .filter($"span_us" > 0)
        .select($"user_id", $"n_events", $"span_us",
          expr("(num * 1000000) div span_us").as("twap_ucents"))
        .orderBy($"user_id")
    },

    // ---- e26: peak concurrent sessions — the capacity-planning number
    // (how many users were mid-session at the busiest instants), exact
    // over e3's 30-minute-gap sessions. A session [s,e] is active at
    // instant t iff s ≤ t and e ≥ t, so per distinct boundary instant
    // conc(t) = (#starts ≤ t) − (#ends < t) — deterministic even with
    // boundary ties. The GLOBAL running sum is the classic scale trap
    // (one total order over all boundaries); here it is the PARALLEL
    // prefix sum in pure DataFrame ops: range-partition the distinct
    // instants (range partitioning is monotone, so partition id order
    // IS time order), run the within-partition window per pid, compute
    // the tiny per-partition totals table, window THAT for each
    // partition's offset, and broadcast it back — two passes, no
    // single-partition sort anywhere. Top-10 busiest instants leave as
    // a TakeOrdered.
    GraftQuery.sql("e26_peak_concurrency",
      s"""$sessionCte,
         |iv AS (SELECT epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
         |       FROM sess GROUP BY user_id, sid),
         |b AS (SELECT t_us, SUM(s_n) AS s_n, SUM(e_n) AS e_n FROM (
         |    SELECT s_us AS t_us, 1 AS s_n, 0 AS e_n FROM iv
         |    UNION ALL SELECT e_us, 0, 1 FROM iv) GROUP BY 1),
         |c AS (SELECT t_us,
         |    SUM(s_n) OVER o - SUM(e_n) OVER o + e_n AS conc
         |  FROM b WINDOW o AS (ORDER BY t_us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT t_us, CAST(conc AS BIGINT) AS conc FROM c
         |ORDER BY conc DESC, t_us LIMIT 10""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wUser = Window.partitionBy($"user_id").orderBy($"t_us", $"event_id")
      val sess = ev(s, dir)
        .withColumn("t_us", unix_micros($"ts")) // µs-exact gap arithmetic
        .withColumn("news", when(lag($"t_us", 1).over(wUser).isNull ||
          $"t_us" - lag($"t_us", 1).over(wUser) >= 1800L * 1000000L,
          1L).otherwise(0L))
        .withColumn("sid", sum($"news").over(
          wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sid")
        .agg(min($"t_us").as("s_us"), max($"t_us").as("e_us"))
      val bounds = sess.select($"s_us".as("t_us"), lit(1L).as("s_n"), lit(0L).as("e_n"))
        .unionByName(sess.select($"e_us".as("t_us"), lit(0L).as("s_n"), lit(1L).as("e_n")))
        .groupBy($"t_us")
        .agg(sum($"s_n").as("s_n"), sum($"e_n").as("e_n"))
      // parallel prefix: range-partition (monotone pids), window per
      // pid, then offset each partition by the cumulative totals of
      // the partitions before it (a tiny broadcast table)
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val parted = bounds.repartitionByRange(p, $"t_us")
        .withColumn("pid", spark_partition_id())
      val wIn = Window.partitionBy($"pid").orderBy($"t_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // localCheckpoint, NOT persist: spark_partition_id is
      // nondeterministic, which (a) blocks ReuseExchange from serving
      // both consumers off one shuffle and (b) would otherwise rely on
      // the range partitioner re-sampling identically on a recompute.
      // A persist() here is only airtight until something evicts it —
      // Verify's concurrent loop clears the catalog cache periodically
      // (Verify.scala), Spark's LRU can evict under storage pressure —
      // and after eviction the pid↔offset pairing would silently rest
      // on implicit shuffle-file reuse. localCheckpoint materializes
      // eagerly, truncates lineage, and is immune to clearCache, so a
      // recompute of the CHECKPOINTED rows is impossible by
      // construction; the blocks are released by GC when the frame
      // goes out of scope.
      val within = parted
        .withColumn("s_run", sum($"s_n").over(wIn))
        .withColumn("e_run", sum($"e_n").over(wIn))
        .localCheckpoint()
      // per-partition totals = the last running value per pid
      val offsets = within.groupBy($"pid")
        .agg(max($"s_run").as("s_tot"), max($"e_run").as("e_tot"))
        .withColumn("s_off", coalesce(sum($"s_tot").over(
          Window.orderBy($"pid").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("e_off", coalesce(sum($"e_tot").over(
          Window.orderBy($"pid").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"pid", $"s_off", $"e_off")
      within.join(broadcast(offsets), "pid")
        .select($"t_us",
          ($"s_run" + $"s_off" - ($"e_run" + $"e_off") + $"e_n").as("conc"))
        .orderBy($"conc".desc, $"t_us")
        .limit(10)
    },

    // ---- e27: event-type transition matrix — the first-order Markov
    // model of user behavior (what follows what), the batch twin of the
    // s24 online transition counter. Each user's event stream in
    // (ts, event_id) order yields (prev → next) pairs via ONE lag
    // window over ONE user-keyed exchange (no self-join); the pair
    // counts partial-aggregate map-side and the shuffle key cardinality
    // is the event-type alphabet squared, not the corpus. Row
    // probabilities are exact integer basis points — (n·10000) div
    // rowtotal, both engines floor on positives — computed by a window
    // over the ALPHABET²-sized count table, never the events.
    GraftQuery.sql("e27_transition_matrix",
      s"""$evCte,
         |tr AS (SELECT lag(event_type) OVER
         |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         |    event_type AS next_type
         |  FROM ev),
         |c AS (SELECT prev_type, next_type, COUNT(*) AS n FROM tr
         |  WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         |SELECT prev_type, next_type, n,
         |  CAST((n * 10000) // SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_bps
         |FROM c ORDER BY prev_type, next_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val c = ev(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("prev_type", lag($"event_type", 1).over(wUser))
        .filter($"prev_type".isNotNull)
        .groupBy($"prev_type", $"event_type".as("next_type"))
        .agg(count(lit(1)).as("n"))
      c.withColumn("p_bps",
          expr("(n * 10000) div sum(n) over (partition by prev_type)"))
        .orderBy($"prev_type", $"next_type")
    },

    // ---- e28: RFM segmentation — the classic recency/frequency/
    // monetary customer scoring, exact across engines: metrics in
    // integer units (µs-derived day recency, counts, cents), quartile
    // assignment by explicit rank arithmetic q = (4·(rank−1)) div n + 1
    // over a (metric, user_id) TOTAL order — no ntile, whose remainder
    // placement would otherwise have to match engine-for-engine.
    // Scale shape: events collapse map-side to one summary row per
    // user before anything sorts (e19's windows-over-summaries rule);
    // the corpus-max timestamp is a 1-row broadcast. The quartile
    // ranks are global row_numbers over the USER summary — fine at
    // user≪event cardinality; at 1000-executor user counts swap in
    // d57's histogram-cut idiom for the same boundaries.
    GraftQuery.sql("e28_rfm_segments",
      s"""$evCte,
         |u AS (SELECT user_id, COUNT(*) AS freq,
         |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS mon_cents,
         |    MAX(epoch_us(ts)) AS last_us
         |  FROM ev GROUP BY user_id),
         |g AS (SELECT MAX(last_us) AS glob_us FROM u),
         |r AS (SELECT u.user_id, u.freq, u.mon_cents,
         |    (g.glob_us - u.last_us) // 86400000000 AS rec_days
         |  FROM u CROSS JOIN g),
         |k AS (SELECT user_id, freq, mon_cents, rec_days,
         |    ROW_NUMBER() OVER (ORDER BY rec_days, user_id) AS rr,
         |    ROW_NUMBER() OVER (ORDER BY freq DESC, user_id) AS fr,
         |    ROW_NUMBER() OVER (ORDER BY mon_cents DESC, user_id) AS mr,
         |    COUNT(*) OVER () AS nu
         |  FROM r)
         |SELECT user_id, CAST(rec_days AS BIGINT) AS rec_days, freq, mon_cents,
         |  CAST((4 * (rr - 1)) // nu + 1 AS BIGINT) AS r_q,
         |  CAST((4 * (fr - 1)) // nu + 1 AS BIGINT) AS f_q,
         |  CAST((4 * (mr - 1)) // nu + 1 AS BIGINT) AS m_q
         |FROM k ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      // u feeds both the corpus-max scalar and the crossJoin left side
      // — persisted so the events scan + user rollup run once
      val u = ev(s, dir).groupBy($"user_id").agg(
        count(lit(1)).as("freq"),
        sum(($"value".cast(DecimalType(18, 2)) * 100).cast("long")).cast("long")
          .as("mon_cents"),
        max(unix_micros($"ts")).as("last_us"))
        .persist()
      val g = u.agg(max($"last_us").as("glob_us"))
      val r = u.crossJoin(broadcast(g))
        .select($"user_id", $"freq", $"mon_cents",
          expr("(glob_us - last_us) div 86400000000").as("rec_days"))
      val k = r
        .withColumn("rr", row_number().over(Window.orderBy($"rec_days", $"user_id")))
        .withColumn("fr", row_number().over(Window.orderBy($"freq".desc, $"user_id")))
        .withColumn("mr", row_number().over(Window.orderBy($"mon_cents".desc, $"user_id")))
        .withColumn("nu", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      k.select($"user_id", $"rec_days", $"freq", $"mon_cents",
          expr("(4 * (rr - 1)) div nu + 1").as("r_q"),
          expr("(4 * (fr - 1)) div nu + 1").as("f_q"),
          expr("(4 * (mr - 1)) div nu + 1").as("m_q"))
        .orderBy($"user_id")
    },

    // ---- e29: inter-event gap quantiles per type — the arrival-rate
    // profile (how bursty is each event type), exact at second
    // granularity: consecutive same-type gaps per user via ONE lag
    // window over one (user, type)-keyed exchange, then p50/p90 read
    // off the (type, gap-seconds) HISTOGRAM with cross-multiplied
    // cumulative fractions (2·cum ≥ tot, 10·cum ≥ 9·tot — the
    // e15/d57 idiom). The quantile window sorts only the histogram
    // (bounded by the observed distinct gap seconds), never the
    // events; everything is integer µs → floor-divided seconds, so
    // both engines agree bit-for-bit.
    GraftQuery.sql("e29_gap_quantiles",
      s"""$evCte,
         |g AS (SELECT event_type, epoch_us(ts) - lag(epoch_us(ts)) OVER
         |    (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
         |  FROM ev),
         |b AS (SELECT event_type, gap_us // 1000000 AS gap_s FROM g
         |  WHERE gap_us IS NOT NULL),
         |h AS (SELECT event_type, gap_s, COUNT(*) AS n FROM b GROUP BY 1, 2),
         |c AS (SELECT event_type, gap_s,
         |    SUM(n) OVER (PARTITION BY event_type ORDER BY gap_s) AS cum,
         |    SUM(n) OVER (PARTITION BY event_type) AS tot
         |  FROM h)
         |SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n_gaps,
         |  CAST(MIN(CASE WHEN 2 * cum >= tot THEN gap_s END) AS BIGINT) AS p50_s,
         |  CAST(MIN(CASE WHEN 10 * cum >= 9 * tot THEN gap_s END) AS BIGINT) AS p90_s,
         |  CAST(MAX(gap_s) AS BIGINT) AS max_s
         |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wGap = Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
      val b = ev(s, dir)
        .withColumn("us", unix_micros($"ts"))
        .withColumn("gap_us", $"us" - lag($"us", 1).over(wGap))
        .filter($"gap_us".isNotNull)
        .select($"event_type", expr("gap_us div 1000000").as("gap_s"))
      val h = b.groupBy($"event_type", $"gap_s").agg(count(lit(1)).as("n"))
      val wCum = Window.partitionBy($"event_type").orderBy($"gap_s")
      val wTot = Window.partitionBy($"event_type")
      h.withColumn("cum", sum($"n").over(wCum))
        .withColumn("tot", sum($"n").over(wTot))
        .groupBy($"event_type")
        .agg(max($"tot").cast("long").as("n_gaps"),
          min(when($"cum" * 2 >= $"tot", $"gap_s")).cast("long").as("p50_s"),
          min(when($"cum" * 10 >= $"tot" * 9, $"gap_s")).cast("long").as("p90_s"),
          max($"gap_s").cast("long").as("max_s"))
        .orderBy($"event_type")
    },

    // ---- e30: cohort lifetime value — e9's retention grid with exact
    // REVENUE instead of presence: per (first-active-week cohort,
    // weeks-since) the week's revenue and the cohort's cumulative LTV
    // per user, all in integer cents (cum div users — floor on
    // NON-NEGATIVE cum, which the generator's positive values
    // guarantee; a refund-carrying corpus would need a floor-division
    // shim, since Spark's div truncates toward zero on negatives
    // while DuckDB's // floors). Scale shape: the cohort map is one user
    // aggregate joined back by user_id; revenue partial-aggregates
    // map-side into the (cohort, week_n) grid; the cumulative window
    // runs over THAT grid — #cohorts × #weeks rows, never events.
    GraftQuery.sql("e30_cohort_ltv",
      s"""$evCte,
         |fw AS (SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
         |       FROM ev GROUP BY user_id),
         |cs AS (SELECT cohort, COUNT(*) AS n_users FROM fw GROUP BY cohort),
         |rv AS (SELECT f.cohort,
         |    CAST((CAST(date_trunc('week', e.ts) AS DATE) - f.cohort) / 7 AS BIGINT) AS week_n,
         |    SUM(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev
         |  FROM ev e JOIN fw f ON e.user_id = f.user_id GROUP BY 1, 2),
         |cm AS (SELECT cohort, week_n, rev,
         |    SUM(rev) OVER (PARTITION BY cohort ORDER BY week_n) AS cum
         |  FROM rv)
         |SELECT cm.cohort AS cohort_week, week_n,
         |  CAST(rev AS BIGINT) AS rev_cents, CAST(cum AS BIGINT) AS cum_cents,
         |  CAST(cs.n_users AS BIGINT) AS n_users,
         |  CAST(cum // cs.n_users AS BIGINT) AS ltv_cents_per_user
         |FROM cm JOIN cs ON cm.cohort = cs.cohort
         |ORDER BY cohort_week, week_n""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val fw = e.groupBy($"user_id")
        .agg(date_trunc("week", min($"ts")).cast("date").as("cohort"))
        .persist() // feeds the size table and the revenue join
      val cs = fw.groupBy($"cohort").agg(count(lit(1)).as("n_users"))
      val rv = e.join(fw, "user_id")
        .groupBy($"cohort",
          (datediff(date_trunc("week", $"ts").cast("date"), $"cohort") / 7)
            .cast("long").as("week_n"))
        .agg(sum(($"value".cast(DecimalType(18, 2)) * 100).cast("long")).as("rev"))
      val wCum = Window.partitionBy($"cohort").orderBy($"week_n")
      rv.withColumn("cum", sum($"rev").over(wCum))
        .join(broadcast(cs), "cohort")
        .select($"cohort".as("cohort_week"), $"week_n",
          $"rev".cast("long").as("rev_cents"), $"cum".cast("long").as("cum_cents"),
          $"n_users".cast("long").as("n_users"),
          expr("cum div n_users").as("ltv_cents_per_user"))
        .orderBy($"cohort_week", $"week_n")
    },

    // ---- e31: funnel latency — how long each e7 funnel stage takes:
    // per user the first view→click and click→purchase delays (the
    // strictly-after chains e7 counts), then p50/p90 per stage off the
    // (stage, delay-seconds) histogram (e29's proven order-statistic
    // idiom — the quantile window sorts the histogram, never users).
    // All integer µs → floor-divided seconds.
    GraftQuery.sql("e31_funnel_time",
      s"""$funnelCte,
         |d AS (SELECT 'view_to_click' AS stage,
         |    (epoch_us(c.cts) - epoch_us(v.vts)) // 1000000 AS delay_s
         |  FROM v JOIN c ON v.user_id = c.user_id
         |  UNION ALL SELECT 'click_to_purchase',
         |    (epoch_us(p.pts) - epoch_us(c.cts)) // 1000000
         |  FROM c JOIN p ON c.user_id = p.user_id),
         |h AS (SELECT stage, delay_s, COUNT(*) AS n FROM d GROUP BY 1, 2),
         |q AS (SELECT stage, delay_s,
         |    SUM(n) OVER (PARTITION BY stage ORDER BY delay_s) AS cum,
         |    SUM(n) OVER (PARTITION BY stage) AS tot
         |  FROM h)
         |SELECT stage, CAST(MAX(tot) AS BIGINT) AS n_users,
         |  CAST(MIN(CASE WHEN 2 * cum >= tot THEN delay_s END) AS BIGINT) AS p50_s,
         |  CAST(MIN(CASE WHEN 10 * cum >= 9 * tot THEN delay_s END) AS BIGINT) AS p90_s
         |FROM q GROUP BY stage ORDER BY stage""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (v, c, p) = funnelStages(s, dir)
      c.persist() // feeds the purchase frame AND both delay branches
      val d = v.join(c, "user_id")
        .select(lit("view_to_click").as("stage"),
          expr("(unix_micros(cts) - unix_micros(vts)) div 1000000").as("delay_s"))
        .unionByName(c.join(p, "user_id")
          .select(lit("click_to_purchase").as("stage"),
            expr("(unix_micros(pts) - unix_micros(cts)) div 1000000").as("delay_s")))
      val h = d.groupBy($"stage", $"delay_s").agg(count(lit(1)).as("n"))
      val wCum = Window.partitionBy($"stage").orderBy($"delay_s")
      val wTot = Window.partitionBy($"stage")
      h.withColumn("cum", sum($"n").over(wCum))
        .withColumn("tot", sum($"n").over(wTot))
        .groupBy($"stage")
        .agg(max($"tot").cast("long").as("n_users"),
          min(when($"cum" * 2 >= $"tot", $"delay_s")).cast("long").as("p50_s"),
          min(when($"cum" * 10 >= $"tot" * 9, $"delay_s")).cast("long").as("p90_s"))
        .orderBy($"stage")
    },

    // ---- e32: weekday activity profile — per event type, the
    // day-of-week load distribution in exact basis points (capacity
    // planning's weekly shape; e26 finds the peak instant, HERE the
    // recurring pattern). Day-of-week is PURE INTEGER arithmetic —
    // FLOORED epoch days + 3 mod 7, Monday=0, anchored on 1970-01-01
    // being a Thursday — because the engines' dayofweek() builtins
    // disagree on numbering. Both the day division and the modulus
    // are forced to floor/positive semantics (floor() + pmod /
    // double-%) so pre-1970 timestamps label identically on both
    // engines — Spark's div/% truncate toward zero while DuckDB's //
    // floors, the e30-documented hazard. Derived map-side, aggregated
    // into a type×7 grid, shares windowed over that grid only.
    GraftQuery.sql("e32_weekday_profile",
      s"""$evCte,
         |d AS (SELECT event_type,
         |    ((epoch_us(ts) // 86400000000 + 3) % 7 + 7) % 7 AS dow
         |  FROM ev),
         |g AS (SELECT event_type, dow, COUNT(*) AS n FROM d GROUP BY 1, 2)
         |SELECT event_type, CAST(dow AS BIGINT) AS dow, n,
         |  CAST((n * 10000) // SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS share_bps
         |FROM g ORDER BY event_type, dow""".stripMargin) { (s, dir) =>
      import s.implicits._
      val g = ev(s, dir)
        .select($"event_type",
          expr("pmod(CAST(floor(unix_micros(ts) / 86400000000.0) AS BIGINT) + 3, 7)")
            .as("dow"))
        .groupBy($"event_type", $"dow").agg(count(lit(1)).as("n"))
      g.withColumn("share_bps",
          expr("(n * 10000) div sum(n) over (partition by event_type)"))
        .orderBy($"event_type", $"dow")
    },

    // ---- e33: sequential-pattern mining — the most frequent
    // consecutive event-type TRIGRAMS across user sessions, scored by
    // lift against unigram independence (does view→click→purchase
    // happen more often than its pieces predict?). Trigrams come from
    // TWO lags over ONE (ts, event_id)-ordered user-keyed window — the
    // e27 shape one step deeper, no self-join — and partial-aggregate
    // to an ALPHABET³-bounded count table (125 rows here), so
    // everything after the first exchange is arithmetic over a tiny
    // relation. Lift is exact integer basis points via DECIMAL(38,0)
    // cross-products (d65's discipline): lift_bp =
    // (10000·n·N³) div (T·c_a·c_b·c_c), where N/c_* are corpus unigram
    // stats and T the trigram-position total — floor on positives in
    // both engines. At extreme corpus counts (N³ past 38 digits) the
    // same ranking is computed in log space over the SAME tiny table;
    // the exchange shape is unchanged.
    GraftQuery.sql("e33_event_trigrams",
      s"""$evCte,
         |tr AS (SELECT user_id,
         |    lag(event_type, 2) OVER w AS t1,
         |    lag(event_type, 1) OVER w AS t2,
         |    event_type AS t3
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |c AS (SELECT t1, t2, t3, COUNT(*) AS n FROM tr
         |  WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
         |u AS (SELECT event_type, COUNT(*) AS cu FROM ev GROUP BY 1),
         |st AS (SELECT (SELECT COUNT(*) FROM ev) AS nu,
         |              (SELECT SUM(n) FROM c) AS t),
         |l AS (SELECT c.t1, c.t2, c.t3, c.n,
         |    CAST((CAST(10000 AS HUGEINT) * c.n * st.nu * st.nu * st.nu)
         |      // (CAST(st.t AS HUGEINT) * u1.cu * u2.cu * u3.cu) AS BIGINT)
         |      AS lift_bp
         |  FROM c CROSS JOIN st
         |  JOIN u u1 ON u1.event_type = c.t1
         |  JOIN u u2 ON u2.event_type = c.t2
         |  JOIN u u3 ON u3.event_type = c.t3)
         |SELECT t1, t2, t3, n, lift_bp FROM l
         |ORDER BY n DESC, t1, t2, t3 LIMIT 15""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val e = ev(s, dir).select($"user_id", $"ts", $"event_id", $"event_type")
      val c = e
        .withColumn("t1", lag($"event_type", 2).over(wUser))
        .withColumn("t2", lag($"event_type", 1).over(wUser))
        .filter($"t1".isNotNull)
        .groupBy($"t1", $"t2", $"event_type".as("t3"))
        .agg(count(lit(1)).as("n"))
        // both the trigram-total scalar and the lift join read it; the
        // pin keeps the (tiny) count table from recomputing the
        // corpus-wide window twice
        .persist()
      val u = e.groupBy($"event_type").agg(count(lit(1)).as("cu"))
      val st = e.agg(count(lit(1)).as("nu"))
        .crossJoin(c.agg(sum($"n").as("t")))
      c.crossJoin(broadcast(st))
        .join(broadcast(u.select($"event_type".as("t1"), $"cu".as("c1"))), "t1")
        .join(broadcast(u.select($"event_type".as("t2"), $"cu".as("c2"))), "t2")
        .join(broadcast(u.select($"event_type".as("t3"), $"cu".as("c3"))), "t3")
        .withColumn("lift_bp",
          expr("""CAST((CAST(10000 AS DECIMAL(38,0)) * n * nu * nu * nu)
                 | div (CAST(t AS DECIMAL(38,0)) * c1 * c2 * c3) AS BIGINT)"""
            .stripMargin))
        .select($"t1", $"t2", $"t3", $"n", $"lift_bp")
        .orderBy($"n".desc, $"t1", $"t2", $"t3")
        .limit(15)
    },

    // ---- e34: burst detection — days where an event type runs HOT
    // against its own trailing week (the ops-alerting cousin of e19's
    // week-over-week drift): a day bursts when n·7 > 2·(trailing-7-day
    // sum), the division-free cross-multiplied compare. The daily grid
    // is DENSIFIED first (e11's gap-fill: sequence over the corpus'
    // [min, max] day span × the type alphabet, missing days = 0) so
    // "trailing 7 rows" means seven CALENDAR days, not seven observed
    // rows — on a sparse type the undensified window would silently
    // span months. Only days with a full prior week report. Scale
    // shape: one (type, day) partial aggregate off the corpus, then
    // windows over the alphabet × span grid — bounded by the calendar,
    // not the event count.
    GraftQuery.sql("e34_burst_days",
      s"""$evCte,
         |g AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS wday,
         |    COUNT(*) AS n FROM ev GROUP BY 1, 2),
         |b AS (SELECT CAST(MIN(date_trunc('day', ts)) AS DATE) AS mn,
         |    CAST(MAX(date_trunc('day', ts)) AS DATE) AS mx FROM ev),
         |days AS (SELECT CAST(unnest(generate_series(mn, mx,
         |    INTERVAL 1 DAY)) AS DATE) AS wday FROM b),
         |grid AS (SELECT t.event_type, d.wday, COALESCE(g.n, 0) AS n
         |  FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN days d
         |  LEFT JOIN g ON g.event_type = t.event_type AND g.wday = d.wday),
         |w AS (SELECT event_type, wday, n,
         |    SUM(n) OVER tw AS trail7, COUNT(*) OVER tw AS c7
         |  FROM grid WINDOW tw AS (PARTITION BY event_type ORDER BY wday
         |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         |SELECT event_type, wday, n, CAST(trail7 AS BIGINT) AS trail7,
         |  CAST(CASE WHEN n * 7 > 2 * trail7 THEN 1 ELSE 0 END AS BIGINT) AS burst
         |FROM w WHERE c7 = 7 ORDER BY event_type, wday""".stripMargin) { (s, dir) =>
      import s.implicits._
      val g = ev(s, dir)
        .groupBy($"event_type", to_date($"ts").as("wday"))
        .agg(count(lit(1)).as("n"))
      burstFromDaily(g).orderBy($"event_type", $"wday")
    }
  )

  /** e34's report tail over a (event_type, wday, n) daily count table:
    * densify to the full [min, max] day span × type alphabet, then the
    * trailing-7-calendar-day window and the cross-multiplied burst
    * flag. ONE definition shared with the streaming twin s29 (which
    * maintains the daily counts incrementally) — the alerting rule
    * cannot drift between batch and stream. The day-span bounds come
    * from the count table itself (its min/max day IS the corpus's:
    * every day with events has a row). */
  private[queries] def burstFromDaily(g: DataFrame): DataFrame = {
    import g.sparkSession.implicits._
    val days = g.agg(min($"wday").as("mn"), max($"wday").as("mx"))
      .select(explode(sequence($"mn", $"mx")).as("wday"))
    val grid = g.select($"event_type").distinct()
      .crossJoin(broadcast(days))
      .join(g, Seq("event_type", "wday"), "left")
      .na.fill(0L, Seq("n"))
    val tw = Window.partitionBy($"event_type").orderBy($"wday")
      .rowsBetween(-7, -1)
    grid
      .withColumn("trail7", sum($"n").over(tw))
      .withColumn("c7", count(lit(1)).over(tw))
      .filter($"c7" === 7)
      .select($"event_type", $"wday", $"n", $"trail7",
        ($"n" * 7 > $"trail7" * 2).cast("long").as("burst"))
  }
}
