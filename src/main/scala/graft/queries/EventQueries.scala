package graft
package queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.EventStream

/** The events table: sessions, funnels, retention, event-time windows,
  * time-series fills and drift, and the as-of join family. */
object EventQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // E35: BATCH sessionization — the same 30-minute-gap session
    // semantics as the streaming flatMapGroupsWithState operator, as a
    // pure window composition: flag gap-openers with lag(), running-sum
    // the flags into session indexes, aggregate per session. One
    // shuffle on user_id; (ts, event_id) ordering is total so session
    // boundaries are deterministic under any partitioning.
    QueryDef("q_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val gapMs = 30L * 60000L
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_millis(col("ts")).as("ms"),
          round(col("value") * 1000).cast("long").as("vm"))
        .withColumn("opens",
          when(col("ms") - lag(col("ms"), 1).over(w) > gapMs, 1L)
            .when(lag(col("ms"), 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("session_idx",
          sum(col("opens")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          count(lit(1)).as("n_events"),
          sum(col("vm")).as("value_milli"))
    },
      Some("""WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |         epoch_ms(ts) AS ms,
        |         CAST(round(value * 1000) AS BIGINT) AS vm,
        |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL THEN 1
        |              WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1
        |              ELSE 0 END AS opens
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT *, CAST(sum(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(vm) AS BIGINT) AS value_milli
        |FROM sessions GROUP BY user_id, session_idx""".stripMargin)),

    // E155: sequence training-example construction — per-user
    // next-event-prediction pairs (context of the 3 preceding event
    // types → target), the dataset-building step behind session-based
    // recommenders and behavioral LMs. One window sort per user on
    // (ts, event_id) — the q_sessionize shape — lag() assembles the
    // context (no self-join, no explode), full-context examples only;
    // context emitted as a '>'-joined string so the artifact is flat.
    // At 100 TB this is one user-keyed shuffle; context length is a
    // compile-time constant so the plan stays one Window operator.
    QueryDef("q_seq_examples", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("c1", lag(col("event_type"), 3).over(w))
        .withColumn("c2", lag(col("event_type"), 2).over(w))
        .withColumn("c3", lag(col("event_type"), 1).over(w))
        .filter(col("c1").isNotNull)
        .select(col("user_id"), col("event_id").as("target_event_id"),
          concat_ws(">", col("c1"), col("c2"), col("c3")).as("context"),
          col("event_type").as("target"))
    },
      Some("""WITH o AS (
        |  SELECT user_id, event_id, event_type,
        |         lag(event_type, 3) OVER w AS c1,
        |         lag(event_type, 2) OVER w AS c2,
        |         lag(event_type, 1) OVER w AS c3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS target_event_id,
        |       c1 || '>' || c2 || '>' || c3 AS context,
        |       event_type AS target
        |FROM o WHERE c1 IS NOT NULL""".stripMargin)),

    // E72: event transition matrix — consecutive event-type pairs per
    // user (lag window, (ts, event_id) total order) counted corpus-wide:
    // the Markov-chain view of user behavior. One shuffle on user_id,
    // then a tiny types×types aggregate.
    QueryDef("q_transitions", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    },
      Some("""WITH seq AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)),

    // E76: new-vs-returning daily split — each day's events divided by
    // whether the user's FIRST-seen day is that day. First-seen is a
    // user-keyed min-agg joined back on the same key (partitioning
    // reused, q_funnel-style).
    QueryDef("q_new_vs_returning", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      ev.join(first, "user_id")
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
          sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("n_returning"),
          count_distinct(when(col("day") === col("first_day"), col("user_id"))).as("u_new"))
    },
      Some("""WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |first AS (
        |  SELECT user_id, min(day) AS first_day FROM ev GROUP BY 1)
        |SELECT strftime(e.day, '%Y-%m-%d') AS day,
        |       CAST(sum(CASE WHEN e.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |       CAST(sum(CASE WHEN e.day <> f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
        |       CAST(count(DISTINCT CASE WHEN e.day = f.first_day
        |                                THEN e.user_id END) AS BIGINT) AS u_new
        |FROM ev e JOIN first f ON e.user_id = f.user_id
        |GROUP BY e.day""".stripMargin)),

    // E73: DAU/WAU — daily and 7-day-trailing distinct actives. The
    // rolling DISTINCT cannot ride a window frame (count_distinct isn't
    // a window function); the scale shape is the explode: each
    // (day, user) row votes into the 7 windows it belongs to, then one
    // distinct-agg per window day — shuffle ∝ active-pairs × 7, never
    // a day×day self-join.
    QueryDef("q_active_users", (s, dir) => {
      // staged (r17): dau and wau both consume the (day, user) distinct,
      // and exchange reuse does not fire across their differently-pruned
      // copies — unstaged, the full events scan + distinct ran TWICE
      // (StageProfile: two identical 261 KB partial-distinct stages).
      // The staged frame is active-pairs-sized, far below events-sized.
      val ud = graft.ops.Staging.stage(Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct())
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .withColumn("wday", explode(sequence(col("day"), date_add(col("day"), 6))))
        .groupBy(col("wday")).agg(count_distinct(col("user_id")).as("wau"))
      dau.join(wau, dau("day") === wau("wday"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"))
    },
      Some("""WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |w AS (
        |  SELECT CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
        |                                     INTERVAL 1 DAY)) AS DATE) AS wday,
        |         user_id
        |  FROM ud),
        |wau AS (SELECT wday, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |        FROM w GROUP BY 1)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, wau.wau
        |FROM dau d JOIN wau ON wau.wday = d.day""".stripMargin)),

    // E55: time-series gap fill — per-user calendar spine (explode of a
    // date sequence, no driver loop) left-joined to daily activity;
    // counts zero-fill, values forward-fill via last(ignoreNulls) over
    // an ordered per-user window. One shuffle on user_id.
    QueryDef("q_gap_fill", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 1000).cast("long")).as("value_milli"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("value_milli"), ignoreNulls = true).over(w).as("carried_value_milli"))
    },
      Some("""WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(min(day), max(day),
        |                                         INTERVAL 1 DAY))::DATE AS day
        |  FROM daily GROUP BY user_id)
        |SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
        |       coalesce(d.n_events, 0) AS n_events,
        |       last_value(d.value_milli IGNORE NULLS) OVER (
        |         PARTITION BY s.user_id ORDER BY s.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_value_milli
        |FROM spine s LEFT JOIN daily d
        |  ON s.user_id = d.user_id AND s.day = d.day""".stripMargin)),

    // E119: multi-touch attribution — each purchase credited to the
    // FIRST and LAST click/view inside a 3-day lookback. One RANGE
    // window per user on the micros axis; min/max OF STRUCT pick the
    // touches, so the result is deterministic even when two touches
    // share a timestamp (event_id tiebreak inside the struct) — first/
    // last() over a range frame would depend on intra-tie row order.
    QueryDef("q_attribution", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val touch = col("event_type").isin("click", "view")
      val lookbackUs = 3L * 86400L * 1000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("us").asc)
        .rangeBetween(-lookbackUs, -1)
      val touchStruct = when(touch,
        struct(col("us"), col("event_id").as("eid"), col("event_type").as("et")))
      // all three aggregates in ONE select: chained withColumns would
      // block CollapseWindow and plan three Window passes over every
      // partition (the plan audit asserts the fused single pass)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          min(touchStruct).over(w).as("ft"),
          max(touchStruct).over(w).as("lt"),
          count(when(touch, lit(1))).over(w).as("n_touches"))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ft.eid").as("first_touch_id"), col("ft.et").as("first_touch_type"),
          col("lt.eid").as("last_touch_id"), col("lt.et").as("last_touch_type"),
          col("n_touches"))
    },
      Some("""WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
        |w AS (
        |  SELECT event_id, user_id, event_type,
        |    min(CASE WHEN event_type IN ('click','view')
        |             THEN struct_pack(us := us, eid := event_id, et := event_type) END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            RANGE BETWEEN 259200000000 PRECEDING AND 1 PRECEDING) AS ft,
        |    max(CASE WHEN event_type IN ('click','view')
        |             THEN struct_pack(us := us, eid := event_id, et := event_type) END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            RANGE BETWEEN 259200000000 PRECEDING AND 1 PRECEDING) AS lt,
        |    count(CASE WHEN event_type IN ('click','view') THEN 1 END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            RANGE BETWEEN 259200000000 PRECEDING AND 1 PRECEDING) AS n_touches
        |  FROM e)
        |SELECT event_id AS purchase_id, user_id,
        |       (ft).eid AS first_touch_id, (ft).et AS first_touch_type,
        |       (lt).eid AS last_touch_id, (lt).et AS last_touch_type,
        |       CAST(n_touches AS BIGINT) AS n_touches
        |FROM w WHERE event_type = 'purchase'""".stripMargin)),

    // E38: equi+range join (point-in-interval) via time binning —
    // events matched into each user's daily 2-hour activity windows.
    // The naive inequality join is a BroadcastNestedLoopJoin (quadratic);
    // the binned plan is a hash join on (user, hour-bin) + exact verify
    // (PlanAuditSpec asserts no nested-loop node)
    QueryDef("q_range_join", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
          to_date(col("ts")).as("day"))
      val windows = ev.groupBy(col("user_id"), col("day"))
        .agg(min(col("ms")).as("lo"))
        .withColumn("hi", col("lo") + lit(7200000L))
        .select(col("user_id"), col("lo"), col("hi"))
      graft.ops.RangeJoin.pointInInterval(
          ev.select(col("user_id"), col("event_id"), col("ms")), "ms",
          windows, "lo", "hi", Seq("user_id"), binWidth = 3600000L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_in_window"),
          count_distinct(col("event_id")).as("n_events_in_window"))
    },
      Some("""WITH ev AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms, CAST(ts AS DATE) AS day
        |  FROM events),
        |win AS (
        |  SELECT user_id, min(ms) AS lo, min(ms) + 7200000 AS hi
        |  FROM ev GROUP BY user_id, day)
        |SELECT e.user_id,
        |       CAST(count(*) AS BIGINT) AS n_in_window,
        |       CAST(count(DISTINCT e.event_id) AS BIGINT) AS n_events_in_window
        |FROM ev e JOIN win w
        |  ON e.user_id = w.user_id AND e.ms >= w.lo AND e.ms <= w.hi
        |GROUP BY e.user_id""".stripMargin)),

    // E40: ordered funnel (view → click-after-view → purchase-after-
    // click). Each stage is a user-keyed min-aggregation, and every
    // subsequent join + groupBy reuses the user_id hash partitioning —
    // one logical shuffle shape repeated, never a window sort over the
    // whole event stream. Each stage's event_type filter pushes to the
    // parquet scan, so the three passes each read only their slice.
    QueryDef("q_funnel", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
      // v and c are user-keyed aggregates (16 B/user) consumed twice
      // each (next stage's join + the count row); unstaged, every
      // consumer re-ran its whole upstream chain — 6 events scans in
      // the r17 before-plan, 3 after. Staging computes each once; min()
      // aggregates are exact — values unchanged.
      val v = graft.ops.Staging.stage(ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ms")).as("v_ms")))
      val c = graft.ops.Staging.stage(ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ms") > col("v_ms"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("c_ms")))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ms") > col("c_ms"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("p_ms"))
      v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
        .unionAll(c.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click_after_view").as("stage"), col("n_users")))
        .unionAll(p.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase_after_click").as("stage"), col("n_users")))
    },
      Some("""WITH ev AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |v AS (SELECT user_id, min(ms) AS v_ms FROM ev
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ms) AS c_ms FROM ev e
        |      JOIN v ON e.user_id = v.user_id AND e.ms > v.v_ms
        |      WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ms) AS p_ms FROM ev e
        |      JOIN c ON e.user_id = c.user_id AND e.ms > c.c_ms
        |      WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        |UNION ALL
        |SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c
        |UNION ALL
        |SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p""".stripMargin)),

    // E41: cohort retention — users grouped by first-seen day, activity
    // counted per week offset. The cohort frame is a user-keyed agg
    // joined straight back to the user-keyed events (partitioning
    // reused); output cardinality is cohort-days × offsets, tiny at
    // any corpus scale.
    QueryDef("q_retention", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      ev.join(cohort, "user_id")
        .groupBy(
          date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          floor(datediff(col("day"), col("cohort_day")) / 7).cast("long").as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_active"))
    },
      Some("""WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (
        |  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        |       CAST(floor(date_diff('day', c.cohort_day, e.day) / 7.0) AS BIGINT) AS week_offset,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM ev e JOIN cohort c ON e.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin)),

    // E42: latest-per-key (the CDC/upsert compaction primitive as a
    // batch query) — ONE partial-aggregable shuffle via max(struct),
    // not a window sort: the struct's (ms, event_id) prefix is a total
    // order, so max() picks the unique latest row and map-side combine
    // keeps the shuffle at one record per (task, user).
    QueryDef("q_latest_per_key", (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"),
          col("event_type"), round(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("ms"), col("event_id"), col("event_type"), col("vm"))).as("last"))
        .select(col("user_id"), col("last.ms").as("last_ms"),
          col("last.event_id").as("last_event_id"),
          col("last.event_type").as("last_event_type"),
          col("last.vm").as("last_value_milli")),
      Some("""WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
        |         CAST(round(value * 1000) AS BIGINT) AS vm
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |            ORDER BY ms DESC, event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, ms AS last_ms, event_id AS last_event_id,
        |       event_type AS last_event_type, vm AS last_value_milli
        |FROM r WHERE rn = 1""".stripMargin)),

    // R31: as-of join (point-in-time lookup) — each click joined to the
    // user's latest view at or before it; DuckDB's native ASOF JOIN is
    // the oracle for the composed union+window plan
    QueryDef("q_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      graft.ops.AsOfJoin.leftAsOf(clicks, views, "user_id", "ts",
          Seq("view_event_id", "view_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("asof_view_event_id"), col("asof_view_value"))
    },
      Some("""SELECT l.event_id, l.user_id,
        |       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       r.event_id AS asof_view_event_id,
        |       r.value AS asof_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // E87: the SAME as-of semantics through the custom physical operator
    // (AsOfJoinNode → AsOfJoinStrategy → AsOfJoinExec merge walk) — rung
    // (c) of the extension ladder; hash-matches the identical DuckDB
    // native ASOF oracle as q_asof_join, so the two implementations are
    // pinned equal by the gate itself
    QueryDef("q_asof_exec", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      graft.plans.AsOfJoinPhysical.leftAsOf(clicks, views, "user_id", "ts",
          Seq("view_event_id", "view_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("asof_view_event_id"), col("asof_view_value"))
    },
      Some("""SELECT l.event_id, l.user_id,
        |       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       r.event_id AS asof_view_event_id,
        |       r.value AS asof_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // R42: as-of join with a staleness bound — latest view within 30
    // minutes of each click, else null (the feature-store TTL variant;
    // same single-shuffle plan as q_asof_join)
    QueryDef("q_asof_tolerance", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"))
      graft.ops.AsOfJoin.leftAsOfWithin(clicks, views, "user_id", "ts",
          Seq("view_event_id"), withinMs = 30L * 60000L)
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("asof_view_event_id"))
    },
      // freshness mirrored in the ms domain (epoch_ms both sides) so the
      // boundary truncation is bit-identical to Spark's unix_millis age
      Some("""WITH clicks AS (
        |  SELECT event_id, user_id, ts, epoch_ms(ts) AS cms
        |  FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, ts, epoch_ms(ts) AS vms, event_id AS view_event_id
        |  FROM events WHERE event_type = 'view'),
        |cand AS (
        |  SELECT c.event_id, v.view_event_id,
        |         row_number() OVER (PARTITION BY c.event_id
        |                            ORDER BY v.ts DESC, v.view_event_id DESC) AS rn
        |  FROM clicks c JOIN views v
        |    ON v.user_id = c.user_id AND v.ts <= c.ts
        |   AND c.cms - v.vms <= 1800000)
        |SELECT c.event_id, c.user_id,
        |       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       x.view_event_id AS asof_view_event_id
        |FROM clicks c
        |LEFT JOIN (SELECT event_id, view_event_id FROM cand WHERE rn = 1) x
        |  ON x.event_id = c.event_id""".stripMargin)),

    // R44: FORWARD as-of — each click joined to the user's NEXT view at
    // or after it (same single-shuffle union+window plan, time order
    // reversed); oracle is a DuckDB LATERAL next-row lookup
    QueryDef("q_asof_forward", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      graft.ops.AsOfJoin.leftAsOfForward(clicks, views, "user_id", "ts",
          Seq("view_event_id", "view_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("asof_view_event_id"), col("asof_view_value"))
    },
      // forward as-of: earliest view at or after each click; tiebreak at
      // equal view timestamps = greatest (event_id) — the same
      // "lexicographically greatest right struct" rule as the Spark side
      Some("""SELECT l.event_id, l.user_id,
        |       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       r.asof_view_event_id, r.asof_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |LEFT JOIN LATERAL (
        |  SELECT v.event_id AS asof_view_event_id, v.value AS asof_view_value
        |  FROM events v
        |  WHERE v.event_type = 'view' AND v.user_id = l.user_id AND v.ts >= l.ts
        |  ORDER BY v.ts ASC, v.event_id DESC
        |  LIMIT 1) r ON TRUE""".stripMargin)),

    // R45: NEAREST as-of — closer of the two directions, exact ties
    // prefer backward (pandas merge_asof semantics); distances compared
    // in FLOORED MILLISECONDS on both engines so a sub-ms gap can never
    // flip the winner between Spark and the oracle
    QueryDef("q_asof_nearest", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      graft.ops.AsOfJoin.leftAsOfNearest(clicks, views, "user_id", "ts",
          Seq("view_event_id", "view_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("asof_view_event_id"), col("asof_view_value"))
    },
      // nearest as-of: min |gap| in floored milliseconds, ties prefer the
      // backward (at-or-before) match, then greatest event_id
      Some("""SELECT l.event_id, l.user_id,
        |       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       r.asof_view_event_id, r.asof_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |LEFT JOIN LATERAL (
        |  SELECT v.event_id AS asof_view_event_id, v.value AS asof_view_value
        |  FROM events v
        |  WHERE v.event_type = 'view' AND v.user_id = l.user_id
        |  ORDER BY abs(epoch_ms(v.ts) - epoch_ms(l.ts)) ASC,
        |           CASE WHEN v.ts <= l.ts THEN 0 ELSE 1 END ASC,
        |           v.event_id DESC
        |  LIMIT 1) r ON TRUE""".stripMargin)),

    // E13/E14: event-time tumbling windows (same transform as streaming)
    QueryDef("q_event_windows", (s, dir) =>
      EventStream.windowedAgg(Tables.events(s, dir), "1 hour"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // E81: sliding (hopping) windows — 1h length / 30min slide, every
    // event in exactly 2 windows; overlap costs map-side expansion only,
    // the exchange still carries (window, type) partials
    QueryDef("q_event_sliding", (s, dir) =>
      EventStream.slidingWindowAgg(Tables.events(s, dir), "1 hour", "30 minutes"),
      Some("""SELECT strftime(time_bucket(INTERVAL '30 minutes', ts)
        |                  - to_minutes(30 * k), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
        |GROUP BY 1, 2""".stripMargin)),

    // E112: EWMA control chart over daily event volumes — drift/burst
    // detection for a streaming ingest. Dyadic weights 2^-lag over a
    // bounded 7-day lookback make every term and the sum EXACT in
    // double (numerators far below 2^53) — partition-order independent
    // without an ordered fold. The bounded self-join is |days|×8 rows,
    // never events×events.
    QueryDef("q_ewma_volume", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val a = daily.alias("a"); val b = daily.alias("b")
      a.join(b,
          col("a.event_type") === col("b.event_type") &&
            datediff(col("a.day"), col("b.day")).between(0, 7))
        .groupBy(col("a.event_type").as("event_type"),
          col("a.day").as("day"), col("a.n").as("n"))
        .agg(
          sum(col("b.n").cast("double") *
            pow(lit(0.5), datediff(col("a.day"), col("b.day")))).as("wsum"),
          sum(pow(lit(0.5), datediff(col("a.day"), col("b.day")))).as("wnorm"))
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"),
          round(col("wsum") / col("wnorm"), 6).as("ewma"),
          (col("n").cast("double") > col("wsum") / col("wnorm") * 1.5)
            .as("burst"))
    },
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type, strftime(a.day, '%Y-%m-%d') AS day, a.n,
        |       round(sum(b.n * power(0.5, date_diff('day', b.day, a.day)))
        |             / sum(power(0.5, date_diff('day', b.day, a.day))), 6) AS ewma,
        |       (CAST(a.n AS DOUBLE) >
        |          sum(b.n * power(0.5, date_diff('day', b.day, a.day)))
        |          / sum(power(0.5, date_diff('day', b.day, a.day))) * 1.5) AS burst
        |FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type
        | AND date_diff('day', b.day, a.day) BETWEEN 0 AND 7
        |GROUP BY a.event_type, a.day, a.n""".stripMargin)),

    // E157: PSI distribution drift — is the current window's value
    // distribution still the reference window's? The train-on-new-
    // crawl gate E112's per-series burst chart can't express: one
    // scalar verdict over the WHOLE distribution shape (classical
    // thresholds 0.1/0.2), decomposed per bin so the shifted bins are
    // visible. One events pass into ≤10 groups, then all arithmetic on
    // the fixed 10-row frame (Drift scaladoc has the exactness story).
    QueryDef("q_drift_psi", (s, dir) =>
      graft.ops.Drift.psiDrift(
        Tables.events(s, dir), "value",
        col("ts") < lit("2024-01-16").cast("timestamp"))
        .orderBy(col("bin")),
      // PSI drift replay: same add-half-doubled integer quotients, same
      // quotient-then-multiply double into ln, single round per micro
      // column (the q_dsir_weights exactness posture); the bin spine
      // makes empty bins explicit in both engines
      Some("""WITH b AS (
        |  SELECT CAST(least(greatest(floor(value / 10.0), 0), 9) AS BIGINT) AS bin,
        |         ts < TIMESTAMP '2024-01-16' AS r
        |  FROM events),
        |cnt AS (
        |  SELECT bin, sum(CASE WHEN r THEN 1 ELSE 0 END) AS refc,
        |         sum(CASE WHEN r THEN 0 ELSE 1 END) AS curc
        |  FROM b GROUP BY bin),
        |spine AS (SELECT unnest(range(10)) AS bin),
        |f AS (
        |  SELECT spine.bin, coalesce(refc, 0) AS refc, coalesce(curc, 0) AS curc
        |  FROM spine LEFT JOIN cnt ON cnt.bin = spine.bin),
        |t AS (
        |  SELECT bin, refc, curc,
        |         sum(refc) OVER () AS rt, sum(curc) OVER () AS ct
        |  FROM f),
        |per AS (
        |  SELECT bin, CAST(refc AS BIGINT) AS ref_cnt,
        |         CAST(curc AS BIGINT) AS cur_cnt,
        |         CAST(round(1e6 * ln(
        |           ((refc * 2 + 1)::DOUBLE / (rt * 2 + 10)) *
        |           ((ct * 2 + 10)::DOUBLE / (curc * 2 + 1)))) AS BIGINT) AS lr_micro,
        |         CAST(round(1e6 *
        |           ((refc * 2 + 1)::DOUBLE / (rt * 2 + 10)
        |            - (curc * 2 + 1)::DOUBLE / (ct * 2 + 10)) *
        |           ln(((refc * 2 + 1)::DOUBLE / (rt * 2 + 10)) *
        |              ((ct * 2 + 10)::DOUBLE / (curc * 2 + 1)))) AS BIGINT)
        |           AS contrib_micro
        |  FROM t)
        |SELECT bin, ref_cnt, cur_cnt, lr_micro, contrib_micro,
        |       CAST(sum(contrib_micro) OVER () AS BIGINT) AS psi_micro,
        |       (sum(contrib_micro) OVER () > 200000) AS drift_flag
        |FROM per ORDER BY bin""".stripMargin)),

    // E114: linear interpolation over a daily spine — the time-series
    // resampling step gap-fill's carry-forward (q_gap_fill) can't
    // express: missing days get v_prev + (v_next − v_prev)·(Δ/span),
    // boundaries back/forward-fill. The interpolation is EXACT integer
    // arithmetic (milli-unit longs, both engines truncate integral
    // division toward zero) — no float accumulation, no rounding ties.
    // Two windows over the same (user, day) sort — Catalyst reuses the
    // exchange+sort (the one-Exchange window discipline of PlanAudit).
    QueryDef("q_interpolate", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 1000).cast("long")).as("v"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      val wp = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      // all four lookups in ONE select: same (user, day) partition and
      // order, so CollapseWindow fuses both frame directions into a
      // single Window pass — chained withColumns would plan three
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("v"),
          last(col("v"), ignoreNulls = true).over(wp).as("v_prev"),
          last(when(col("v").isNotNull, col("day")), ignoreNulls = true)
            .over(wp).as("d_prev"),
          first(col("v"), ignoreNulls = true).over(wn).as("v_next"),
          first(when(col("v").isNotNull, col("day")), ignoreNulls = true)
            .over(wn).as("d_next"))
        .withColumn("v_interp",
          when(col("v").isNotNull, col("v"))
            .when(col("v_prev").isNull, col("v_next"))
            .when(col("v_next").isNull, col("v_prev"))
            .otherwise(col("v_prev") + expr(
              "((v_next - v_prev) * datediff(day, d_prev)) div datediff(d_next, d_prev)")))
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("v").isNotNull.as("observed"),
          (col("v_interp").cast("double") / 1000.0).as("value_interp"))
    },
      Some("""WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(min(day), max(day),
        |                                         INTERVAL 1 DAY))::DATE AS day
        |  FROM daily GROUP BY user_id),
        |j AS (
        |  SELECT s.user_id, s.day, d.v
        |  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day),
        |w AS (
        |  SELECT user_id, day, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d_prev,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS d_next
        |  FROM j)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |       (v IS NOT NULL) AS observed,
        |       CAST(CASE WHEN v IS NOT NULL THEN v
        |                 WHEN v_prev IS NULL THEN v_next
        |                 WHEN v_next IS NULL THEN v_prev
        |                 ELSE v_prev + ((v_next - v_prev) * date_diff('day', d_prev, day))
        |                               // date_diff('day', d_prev, d_next)
        |            END AS DOUBLE) / 1000.0 AS value_interp
        |FROM w""".stripMargin)),

    // E88: gaps-and-islands interval merge — each event opens a
    // VARIABLE-LENGTH busy interval ([ts, ts + value minutes)); merge
    // overlaps per user into maximal islands. Running-max-of-end
    // formulation (not lag) so nested intervals merge correctly; all
    // integer micros ⇒ hash-exact. One shuffle, no self-join.
    QueryDef("q_interval_merge", (s, dir) => {
      val iv = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts"))
            + round(col("value") * 60).cast("long") * 1000000L).as("end_us"))
      graft.ops.Intervals
        .mergeIntervals(iv, "user_id", "start_us", "end_us", col("event_id"))
        .select(col("user_id"), col("island"), col("island_start"),
          col("island_end"), col("n_intervals"))
    },
      Some("""WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS start_us,
        |         epoch_us(ts) + CAST(round(value * 60) AS BIGINT) * 1000000 AS end_us
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, start_us, end_us,
        |         CASE WHEN max(end_us) OVER (PARTITION BY user_id
        |                ORDER BY start_us, end_us, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL THEN 1
        |              WHEN start_us > max(end_us) OVER (PARTITION BY user_id
        |                ORDER BY start_us, end_us, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1
        |              ELSE 0 END AS opens,
        |         event_id
        |  FROM iv),
        |islands AS (
        |  SELECT user_id, start_us, end_us,
        |         CAST(sum(opens) OVER (PARTITION BY user_id
        |           ORDER BY start_us, end_us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM flagged)
        |SELECT user_id, island, min(start_us) AS island_start,
        |       max(end_us) AS island_end, CAST(count(*) AS BIGINT) AS n_intervals
        |FROM islands GROUP BY user_id, island""".stripMargin)),

    // E95: bounded-window event dedup — first event per (user, type,
    // hour), batch analog of the streaming dropDuplicatesWithinWatermark
    // (E34): the hour bucket IS the watermark bound. min(struct) partial
    // agg — never a per-bucket window sort; ties impossible (event_id
    // unique) but the struct tiebreak is total anyway.
    QueryDef("q_event_dedup_hourly", (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
          struct(unix_micros(col("ts")).as("us"), col("event_id").as("eid")).as("pick"))
        .groupBy(col("user_id"), col("event_type"), col("hour"))
        .agg(min(col("pick")).as("m"), count(lit(1)).as("n_events"))
        .select(col("user_id"), col("event_type"), col("hour"),
          col("m.eid").as("first_event_id"), col("n_events")),
      Some("""SELECT user_id, event_type, hour, event_id AS first_event_id, n_events
        |FROM (SELECT user_id, event_type, hour, event_id,
        |             row_number() OVER (PARTITION BY user_id, event_type, hour
        |               ORDER BY us, event_id) AS rn,
        |             CAST(count(*) OVER (PARTITION BY user_id, event_type, hour) AS BIGINT) AS n_events
        |      FROM (SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
        |                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour
        |            FROM events))
        |WHERE rn = 1""".stripMargin)),

    // E96: NATIVE session_window sessionization — the same 30-minute-gap
    // sessions as q_sessionize but through Spark's built-in
    // session_window aggregation (merging-window state machine, usable
    // unchanged under Structured Streaming) instead of the hand-rolled
    // lag+cumsum windows; session_end here is the window bound
    // (last event + gap), the streaming-eviction boundary.
    QueryDef("q_session_window", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 1000).cast("long")).as("value_milli"))
        .select(col("user_id"),
          date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), col("value_milli")),
      Some("""WITH flagged AS (
        |  SELECT user_id, ts, CAST(round(value * 1000) AS BIGINT) AS vm,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1
        |              ELSE 0 END AS opens,
        |         event_id
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sessions AS (
        |  SELECT *, sum(opens) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM flagged)
        |SELECT user_id,
        |       strftime(make_timestamp(min(epoch_us(ts))), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(make_timestamp(max(epoch_us(ts))) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(vm) AS BIGINT) AS value_milli
        |FROM sessions GROUP BY user_id, s""".stripMargin))
  )
}
