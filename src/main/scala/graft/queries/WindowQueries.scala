package graft
package queries

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Window functions over the TPC-H tables: row and range frames,
  * ranking, shares of a total, cumulative and rebased series, cohort
  * curves and inter-arrival gaps. */
object WindowQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // R24: moving average over a row frame (4-day trailing), exact cents
    QueryDef("q_moving_avg", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"), col("o_orderdate"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate")).rowsBetween(-3, 0)
      // no rounding: the double division of exact cent sums is
      // bit-identical across engines, while round() at a decimal tie
      // (possible with frame counts 1..4 → denominators 100..800) is not
      daily
        .withColumn("ma4",
          sum(col("rev_cents")).over(w).cast("double")
            / count(lit(1)).over(w) / 100.0)
        .select(col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          (col("rev_cents") / 100.0).as("revenue"), col("ma4"))
    },
      Some("""SELECT o_orderpriority,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
        |       CAST(sum(rev_cents) OVER w AS DOUBLE)
        |             / (count(*) OVER w) / 100.0 AS ma4
        |FROM (SELECT o_orderpriority, o_orderdate,
        |             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |      FROM orders GROUP BY o_orderpriority, o_orderdate)
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // R25: ranking windows — dense_rank + ntile quartiles per nation
    QueryDef("q_ntile_rank", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byBal = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc)
      val total = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          dense_rank().over(byBal).cast("long").as("bal_rank"),
          ntile(4).over(total).cast("long").as("quartile"))
    },
      Some("""SELECT c_nationkey, c_custkey, c_acctbal,
        |       CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS BIGINT) AS bal_rank,
        |       CAST(NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS quartile
        |FROM customer""".stripMargin)),

    // R43: percent-of-total — each nation's revenue share within its
    // region (window-sum ratio, the ratio_to_report idiom). Shares are
    // double divisions of identical exact cent sums → bit-identical.
    QueryDef("q_share_of_total", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"), col("n_name"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      rev.withColumn("region_share",
          col("rev_cents") / sum(col("rev_cents")).over(
            Window.partitionBy(col("n_regionkey"))))
        .select(col("n_regionkey"), col("n_name"), col("rev_cents"), col("region_share"))
    },
      Some("""WITH rev AS (
        |  SELECT n_regionkey, n_name,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT n_regionkey, n_name, rev_cents,
        |       CAST(rev_cents AS DOUBLE)
        |         / CAST(sum(rev_cents) OVER (PARTITION BY n_regionkey) AS DOUBLE)
        |         AS region_share
        |FROM rev""".stripMargin)),

    // E74: per-group z-score outliers — orders priced > 2σ from their
    // own customer's mean. Mean and stddev come from EXACT integer
    // sums (the q_stats_exact discipline, not Spark's order-dependent
    // streaming moments), so z and the > 2 cut are bit-identical
    // across engines and partitionings.
    QueryDef("q_outliers", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("pc"))
      val stats = o.groupBy(col("o_custkey").as("ck"))
        .agg(count(lit(1)).as("n"), sum(col("pc")).as("s"),
          sum(col("pc") * col("pc")).as("sq"))
        .filter(col("n") >= 3)
      o.join(stats, col("o_custkey") === col("ck"))
        .withColumn("mean", col("s").cast("double") / col("n"))
        .withColumn("sd", sqrt((col("n") * col("sq") - col("s") * col("s")).cast("double")
          / (col("n") * (col("n") - lit(1L))).cast("double")))
        .withColumn("z", (col("pc").cast("double") - col("mean")) / col("sd"))
        .filter(abs(col("z")) > 2.0)
        .select(col("o_orderkey"), col("o_custkey"), col("pc").as("price_cents"),
          col("z"))
    },
      Some("""WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders),
        |stats AS (
        |  SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(pc) AS BIGINT) AS s, CAST(sum(pc * pc) AS BIGINT) AS sq
        |  FROM o GROUP BY 1 HAVING count(*) >= 3)
        |SELECT o_orderkey, o_custkey, pc AS price_cents,
        |       (CAST(pc AS DOUBLE) - CAST(s AS DOUBLE) / n)
        |         / sqrt(CAST(n * sq - s * s AS DOUBLE)
        |                / CAST(n * (n - 1) AS DOUBLE)) AS z
        |FROM o JOIN stats ON o_custkey = ck
        |WHERE abs((CAST(pc AS DOUBLE) - CAST(s AS DOUBLE) / n)
        |         / sqrt(CAST(n * sq - s * s AS DOUBLE)
        |                / CAST(n * (n - 1) AS DOUBLE))) > 2.0""".stripMargin)),

    // R39: RANGE-frame window — 7-DAY trailing revenue per customer
    // (a time interval, not a row count: gaps in the order history
    // change the frame, which ROWS BETWEEN cannot express). Exact cents
    // keep the running sums engine-identical.
    QueryDef("q_range_frame", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val day = 86400L
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("epoch_s"))
        .rangeBetween(-6 * day, Window.currentRow)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
        .withColumn("trailing_7d_cents", sum(col("price_cents")).over(w))
        .withColumn("n_in_window", count(lit(1)).over(w))
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(to_timestamp(col("epoch_s")), "yyyy-MM-dd").as("order_date"),
          col("price_cents"), col("trailing_7d_cents"), col("n_in_window"))
    },
      Some("""SELECT o_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT)
        |         AS trailing_7d_cents,
        |       CAST(count(*) OVER w AS BIGINT) AS n_in_window
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |             RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // R41: correlated scalar subquery — orders above their own
    // customer's average (Catalyst decorrelates to an aggregate +
    // join; the oracle states it in subquery form, proving the
    // rewrite's semantics). Threshold comparison on exact cents.
    QueryDef("q_correlated", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      o.createOrReplaceTempView("corr_orders")
      s.sql("""
        SELECT o_orderkey, o_custkey, price_cents
        FROM corr_orders o
        WHERE price_cents > (SELECT avg(price_cents)
                             FROM corr_orders i
                             WHERE i.o_custkey = o.o_custkey)""")
    },
      Some("""WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, price_cents
        |FROM o
        |WHERE price_cents > (SELECT avg(price_cents)
        |                     FROM o i WHERE i.o_custkey = o.o_custkey)""".stripMargin)),

    // R30: cumulative windows — running sum + cume_dist/percent_rank
    QueryDef("q_cumulative", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      val cum = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rankW = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
      monthly.select(col("o_orderpriority"), col("month"),
        (col("rev_cents") / 100.0).as("revenue"),
        (sum(col("rev_cents")).over(cum) / 100.0).as("cum_revenue"),
        cume_dist().over(rankW).as("cd"),
        percent_rank().over(rankW).as("pr"))
    },
      Some("""SELECT o_orderpriority, month,
        |       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
        |       CAST(sum(rev_cents) OVER (PARTITION BY o_orderpriority ORDER BY month
        |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS cum_revenue,
        |       cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY month) AS cd,
        |       percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY month) AS pr
        |FROM (SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
        |             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |      FROM orders GROUP BY 1, 2)""".stripMargin)),

    // R63: index rebasing — each nation's monthly revenue expressed
    // relative to its own first month (= 100). The OLAP "rebase to
    // base period" idiom: exact-cents monthly sums, first_value over an
    // ordered per-nation window, one double division rounded to 6 dp.
    QueryDef("q_rebase_index", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      val monthly = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("month"))
        .agg(sum(col("cents")).as("cents"))
      val w = Window.partitionBy(col("n_name")).orderBy(col("month").asc)
      monthly
        .withColumn("base", first(col("cents")).over(w))
        .select(col("n_name"), col("month"),
          (col("cents").cast("double") / 100.0).as("revenue"),
          round(lit(100.0) * col("cents") / col("base"), 6).as("index"))
    },
      Some("""WITH monthly AS (
        |  SELECT n_name, strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT n_name, month,
        |       CAST(cents AS DOUBLE) / 100.0 AS revenue,
        |       round(100.0 * cents
        |             / first_value(cents) OVER (PARTITION BY n_name ORDER BY month), 6) AS index
        |FROM monthly""".stripMargin)),

    // E102: cohort LTV curves — cumulative revenue per signup cohort by
    // cohort age (weeks since first order), the longitudinal upgrade of
    // q_retention's presence matrix: exact-cents partial aggs to the
    // (cohort, age) grid first (tiny), THEN a cumulative window over the
    // grid — the running sum never touches row-level data.
    QueryDef("q_cohort_ltv", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate"),
          round(col("o_totalprice") * 100).cast("long").as("pc"))
      val first = o.groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_date"))
      val aged = o.join(first, "o_custkey")
        .select(date_format(date_trunc("month", col("first_date")), "yyyy-MM")
            .as("cohort"),
          (datediff(col("o_orderdate"), col("first_date")) / 7).cast("long")
            .as("age_weeks"),
          col("pc"))
      val grid = aged.groupBy(col("cohort"), col("age_weeks"))
        .agg(sum(col("pc")).as("rev_cents"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("age_weeks").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .withColumn("cum_revenue",
          (sum(col("rev_cents")).over(w).cast("double") / 100.0))
        .select(col("cohort"), col("age_weeks"),
          (col("rev_cents").cast("double") / 100.0).as("revenue"),
          col("cum_revenue"))
    },
      Some("""WITH o AS (
        |  SELECT o_custkey, o_orderdate,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders),
        |f AS (SELECT o_custkey, min(o_orderdate) AS first_date FROM o GROUP BY o_custkey),
        |aged AS (
        |  SELECT strftime(date_trunc('month', f.first_date), '%Y-%m') AS cohort,
        |         CAST(datediff('day', f.first_date, o.o_orderdate) // 7 AS BIGINT) AS age_weeks,
        |         o.pc
        |  FROM o JOIN f USING (o_custkey)),
        |grid AS (SELECT cohort, age_weeks, CAST(sum(pc) AS BIGINT) AS rev_cents
        |         FROM aged GROUP BY cohort, age_weeks)
        |SELECT cohort, age_weeks,
        |       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
        |       CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age_weeks
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
        |         AS cum_revenue
        |FROM grid""".stripMargin)),

    // E103: inter-arrival gap statistics — per-segment median/p90 days
    // between consecutive orders of the same customer (lag window on the
    // customer key, exact interpolated percentiles on integer day
    // gaps): purchase-cadence profiling, the temporal analog of
    // q_mad_outliers' robust location stats.
    QueryDef("q_order_gaps", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val gaps = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("gap_days",
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)))
        .filter(col("gap_days").isNotNull)
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      gaps.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_gaps"),
          // p50 interpolates exact halves; p90's fractional position can
          // differ in the last ulp between engines' lerp formulations —
          // round(6) per the repo's float rule. Segment-sized groups =
          // corpus-scale: spillable aggregate, not the built-in buffer
          graft.functions.SpillablePercentile
            .agg(col("gap_days"), Seq(0.5, 0.9)).as("ps"),
          max(col("gap_days")).cast("long").as("max_gap_days"))
        .select(col("c_mktsegment"), col("n_gaps"),
          round(element_at(col("ps"), 1), 6).as("median_gap_days"),
          round(element_at(col("ps"), 2), 6).as("p90_gap_days"),
          col("max_gap_days"))
    },
      Some("""WITH gaps AS (
        |  SELECT o_custkey,
        |         datediff('day', lag(o_orderdate) OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey), o_orderdate) AS gap_days
        |  FROM orders)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_gaps,
        |       round(quantile_cont(gap_days, 0.5), 6) AS median_gap_days,
        |       round(quantile_cont(gap_days, 0.9), 6) AS p90_gap_days,
        |       CAST(max(gap_days) AS BIGINT) AS max_gap_days
        |FROM gaps JOIN customer ON o_custkey = c_custkey
        |WHERE gap_days IS NOT NULL
        |GROUP BY c_mktsegment""".stripMargin))
  )
}
