package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.Clustering
import graft.ops.{Chunking, Dedup, FuzzyJoin, Multimodal, PeriodChange, Preprocess, SharedBuilds,
  Similarity, TextAnalysis}
import graft.sources.Tables
import graft.streaming.EventStream

/** Driver contract — one `queries` entry per SURVEY.md §2 row, plus a
  * duckdb oracle for every SQL-expressible one.
  *
  * Conventions keeping the duckdb hash-compare byte-stable:
  *  - monetary double sums go through exact integer cents/millis
  *    (`sum(cast(round(v*100) as long))`) — float sums are not
  *    associative, integer sums are;
  *  - every computed column is aliased identically in Spark and SQL;
  *  - counts/sizes cast to long (duckdb count/len are BIGINT);
  *  - `round()` ONLY where the two engines compute genuinely different
  *    doubles (independent implementations like cosine or ln); NEVER on
  *    a division of identical exact integers — that double is already
  *    bit-identical, and rounding it at a decimal tie is
  *    engine-dependent (BigDecimal half-up vs scaled-double disagree);
  *  - top-k orderings always carry a unique tiebreak column;
  *  - timestamps surface as `date_format` strings (parquet tz-annotation
  *    vs duckdb naive timestamps would otherwise diverge).
  */
object SparkEntry {

  // period-change (flagship) parameters: customer revenue 1996 vs 2000
  private val P0 = 1996
  private val P1 = 2000

  private def changeDf(s: SparkSession, dir: String): DataFrame =
    PeriodChange.changeBetween(
      Tables.orders(s, dir), Seq("o_custkey"),
      year(col("o_orderdate")), col("o_totalprice"), P0, P1)

  private val changeSql: String =
    s"""SELECT o_custkey,
       |       CAST(v0_cents AS DOUBLE) / 100.0 AS v0,
       |       CAST(v1_cents AS DOUBLE) / 100.0 AS v1,
       |       CAST(v1_cents - v0_cents AS DOUBLE) / 100.0 AS change,
       |       v1_cents <= v0_cents AS is_reduced
       |FROM (SELECT o_custkey,
       |             SUM(CASE WHEN year(o_orderdate) = $P0 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS v0_cents,
       |             SUM(CASE WHEN year(o_orderdate) = $P1 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS v1_cents
       |      FROM orders
       |      WHERE year(o_orderdate) IN ($P0, $P1)
       |      GROUP BY o_custkey)
       |WHERE v0_cents IS NOT NULL AND v1_cents IS NOT NULL""".stripMargin

  /** Flagship: the reference's change analysis on sf 0.001. */
  def entry(spark: SparkSession): DataFrame =
    changeDf(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // R2: projection + filter pushed to the parquet scan
    "q_pruned_scan" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))),

    // R3: na.drop("any") with explicit null/NaN semantics. The raw sf
    // events table contains zero nulls, so nulls AND NaNs are injected
    // deterministically (same derivation in the oracle) — the drop path
    // is actually exercised, not vacuously satisfied.
    "q_dropna_any" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("value",
          when(col("event_id") % 97 === 0, lit(null).cast("double"))
            .when(col("event_id") % 89 === 0, lit(Double.NaN))
            .otherwise(col("value")))
        .withColumn("event_type",
          when(col("user_id") % 101 === 0, lit(null).cast("string"))
            .otherwise(col("event_type")))
      Preprocess.dropNullOrNan(ev, ev.columns.toSeq)
        .select(col("event_id"), col("event_type"), col("value"))
    }),

    // R4+R5: per-entity change between two periods + reduced flag
    "q_change_per_entity" -> ((s, dir) => changeDf(s, dir)),

    // R6: OR-of-equalities filter (reference's countries-of-interest)
    "q_filter_or" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .filter(col("n_name") === "NATION_1" || col("n_name") === "NATION_3" ||
          col("n_name") === "NATION_7")
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
    }),

    // R7: deterministic top-k, both directions
    "q_topk_desc" -> ((s, dir) =>
      PeriodChange.topMovers(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", descending = true, n = 5, tiebreak = "o_orderkey")),
    "q_topk_asc" -> ((s, dir) =>
      PeriodChange.topMovers(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", descending = false, n = 5, tiebreak = "o_orderkey")),

    // R8: filtered count (reference: countries that reduced)
    "q_filter_count" -> ((s, dir) =>
      changeDf(s, dir).filter(col("is_reduced"))
        .agg(count(lit(1)).as("n_reduced"))),

    // R9: grouped min/max/sum/count aggregation
    "q_agg_minmax" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_lines"),
          (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("revenue"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // R10: global sums split by flag
    "q_sum_by_flag" -> ((s, dir) => PeriodChange.sumByFlag(changeDf(s, dir))),

    // R11: per-group "min - max" range label (reference's UDF, built-ins
    // here; plain-cast render so the oracle can reproduce it — the
    // reference's format_number style is the same code path, tested via
    // q_kmeans_clusters)
    "q_label_agg" -> ((s, dir) =>
      PeriodChange.rangeLabels(
        Tables.customer(s, dir), "c_nationkey", "c_acctbal", formatted = false)),

    // R12+R13: rename + fact↔dim broadcast joins
    "q_join_enrich" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir).withColumnRenamed("n_name", "nation_name")
      val r = Tables.region(s, dir).withColumnRenamed("r_name", "region_name")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("region_name"), col("nation_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          (sum(round(col("c_acctbal") * 100).cast("long")) / 100.0).as("total_acctbal"))
    }),

    // R14: stable row ids — per-entity sequence numbers
    "q_row_number" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("seq", row_number().over(w).cast("long"))
        .select(col("o_custkey"), col("o_orderkey"), col("seq"))
    }),

    // R15: KMeans over [change, is_reduced] (reference's clustering)
    "q_kmeans_clusters" -> ((s, dir) => {
      val fitted = Clustering.fitPredict(
        changeDf(s, dir), Seq("change", "is_reduced"), k = 5, seed = 1L)
      Clustering.clusterInfo(fitted.predictions, "change")
    }),

    // R15 (portable, r10 — closes the last no-oracle row): the SAME
    // change-analysis clustering on the PORTABLE integer Lloyd.
    // q_kmeans_clusters stays the Spark-ML-parity rows check (its
    // k-means‖ init is not portably replayable); this variant's fit is
    // the semDeDup contract — exact integer features (change CENTS +
    // reduced flag), md5-rank init, truncating-division updates — so
    // every assignment and the per-cluster summary (all exact ints)
    // replay bit-for-bit in DuckDB.
    "q_kmeans_portable" -> ((s, dir) => {
      val ch = changeDf(s, dir)
        .select(col("o_custkey"),
          round(col("change") * 100).cast("long").as("c_cents"),
          when(col("is_reduced"), 1L).otherwise(0L).as("r"))
      // summarizes the fit's staged features, qv = [c_cents, r]
      Clustering.portableFitAssign(
        ch, "o_custkey", Seq(col("c_cents"), col("r")), k = 5, iters = 3)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          sum(col("qv")(1)).as("n_reduced"),
          min(col("qv")(0)).as("min_change_cents"),
          max(col("qv")(0)).as("max_change_cents"))
    }),

    // R17: DISTINCT projection
    "q_distinct_rows" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus")).distinct()),

    // R18: year-over-year change via lag window
    "q_yoy_change" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byYear = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("o_year"))
        .agg((sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("revenue"))
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_year"))
      byYear
        .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        .withColumn("yoy_change", round((col("revenue") - col("prev_revenue")) * 100).cast("long") / 100.0)
    }),

    // R32: TPC-H Q1 analog (pricing summary): the classic wide-agg scan.
    // disc_price/charge as exact integer units — cents × (100−d%) and
    // cents × (100−d%) × (100+t%) — so every sum and mean is
    // partition-order independent; averages are exact-int divisions
    // (identical doubles in any engine, no rounding needed)
    "q_tpch_q1" -> ((s, dir) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val dc = round(col("l_discount") * 100).cast("long")
      val tc = round(col("l_tax") * 100).cast("long")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("long").as("qty"),
          cents.as("cents"), dc.as("dc"),
          (cents * (lit(100L) - dc)).as("disc_units"),
          (cents * (lit(100L) - dc) * (lit(100L) + tc)).as("charge_units"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("qty")).as("sum_qty"),
          (sum(col("cents")) / 100.0).as("sum_base_price"),
          (sum(col("disc_units")) / 10000.0).as("sum_disc_price"),
          (sum(col("charge_units")) / 1000000.0).as("sum_charge"),
          (sum(col("qty")).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(col("cents")).cast("double") / 100.0 / count(lit(1))).as("avg_price"),
          (sum(col("dc")).cast("double") / 100.0 / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // R32: TPC-H Q3 analog (shipping priority): selective dim filter,
    // fact-fact join, grouped exact-revenue, deterministic top-10.
    // revenue units are cents × (100 − discount%) — exact longs, so the
    // sum is partition-order independent
    "q_tpch_q3" -> ((s, dir) => {
      val cutoff = lit("1998-03-15").cast("timestamp")
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_units"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg((sum(col("rev_units")) / 10000.0).as("revenue"))
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // R32: TPC-H Q5 analog (local supplier volume): 6-table join with a
    // same-nation constraint, small sides broadcast
    "q_tpch_q5" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val o = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1997)
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_units"))
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup),
          l("l_suppkey") === sup("s_suppkey") &&
            c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg((sum(col("rev_units")) / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // R32: TPC-H Q6 analog (forecast revenue): pure scan-filter-agg,
    // every predicate pushed to the parquet scan
    "q_tpch_q6" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(year(col("l_shipdate")) === 1997 &&
          round(col("l_discount") * 100).cast("long").between(5, 7) &&
          col("l_quantity") < 24)
        .agg(
          (sum(round(col("l_extendedprice") * 100).cast("long")
            * round(col("l_discount") * 100).cast("long")) / 10000.0).as("revenue"),
          count(lit(1)).as("n_lines"))),

    // R19: ROLLUP hierarchy totals (region → nation → grand total);
    // null group markers surfaced as 'ALL' so the sentinel is explicit
    "q_rollup" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          (sum(round(col("c_acctbal") * 100).cast("long")) / 100.0).as("total_acctbal"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          col("n_customers"), col("total_acctbal"))
    }),

    // R20: CUBE over two dimensions — all 2^2 grouping sets in one pass
    "q_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n_lines"), col("sum_qty"))),

    // R21: left-semi join (EXISTS) — customers active in P0
    "q_semi_join" -> ((s, dir) => {
      val active = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === P0)
        .select(col("o_custkey").as("c_custkey"))
      Tables.customer(s, dir)
        .join(active, Seq("c_custkey"), "leftsemi")
        .select(col("c_custkey"), col("c_name"))
    }),

    // R21: left-anti join (NOT EXISTS) — customers with no P0 order
    "q_anti_join" -> ((s, dir) => {
      val active = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === P0)
        .select(col("o_custkey").as("c_custkey"))
      Tables.customer(s, dir)
        .join(active, Seq("c_custkey"), "leftanti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // R22: set operations — INTERSECT / EXCEPT with distinct semantics
    "q_set_ops" -> ((s, dir) => {
      def custsIn(y: Int) = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === y)
        .select(col("o_custkey"))
      custsIn(P0).intersect(custsIn(P1)).withColumn("tag", lit("both"))
        .unionByName(
          custsIn(P0).except(custsIn(P1)).withColumn("tag", lit("only_p0")))
    }),

    // R23: statistical moments from EXACT integer sums — mean, variance,
    // stddev, correlation, all partition-order independent (the float
    // accumulators of stddev/corr built-ins are not, across engines)
    "q_stats_exact" -> ((s, dir) => {
      val sums = Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("long").as("q"),
          round(col("l_discount") * 100).cast("long").as("d"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("q")).as("sq"), sum(col("q") * col("q")).as("sqq"),
          sum(col("d")).as("sd"), sum(col("d") * col("d")).as("sdd"),
          sum(col("q") * col("d")).as("sqd"))
      val varRaw = (col("sqq").cast("double") - col("sq").cast("double") * col("sq") / col("n")) / (col("n") - 1)
      // corr cross-terms in DOUBLE: n*sqq etc. as pure long arithmetic
      // overflows 64 bits around sf10 on lineitem-sized sums (ANSI mode
      // would error loudly rather than wrap). Exactness lives in the
      // integer SUMS; the final combination is float either way, and
      // double×double is IEEE-identical across engines.
      val nD = col("n").cast("double")
      val sqD = col("sq").cast("double"); val sdD = col("sd").cast("double")
      val corrNum = nD * col("sqd").cast("double") - sqD * sdD
      val corrDen =
        sqrt(nD * col("sqq").cast("double") - sqD * sqD) *
          sqrt(nD * col("sdd").cast("double") - sdD * sdD)
      sums.select(
        col("n"),
        round(col("sq").cast("double") / col("n"), 6).as("mean_qty"),
        round(varRaw, 6).as("var_qty"),
        round(sqrt(varRaw), 6).as("stddev_qty"),
        round(corrNum / corrDen, 6).as("corr_qty_disc"))
    }),

    // R24: moving average over a row frame (4-day trailing), exact cents
    "q_moving_avg" -> ((s, dir) => {
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
    }),

    // R25: ranking windows — dense_rank + ntile quartiles per nation
    "q_ntile_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byBal = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc)
      val total = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          dense_rank().over(byBal).cast("long").as("bal_rank"),
          ntile(4).over(total).cast("long").as("quartile"))
    }),

    // R26: skew-salted equi-join — semantically identical to the plain
    // join (the oracle IS the plain join), but a hot suppkey spreads
    // over 8 reducers instead of one
    "q_salted_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("s_suppkey"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"))
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      graft.ops.SkewJoin.saltedEquiJoin(li, broadcast(sup), "s_suppkey",
          numSalts = 8, saltSource = Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("revenue"))
    }),

    // R33: explicit GROUPING SETS — per-segment totals and per-nation
    // totals in ONE pass, a set combination neither rollup nor cube
    // expresses (no (segment, nation) cross cells); Spark plans the
    // same single-scan Expand as cube/rollup
    "q_grouping_sets" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupingSets(
          Seq(Seq(col("c_mktsegment")), Seq(col("n_name")), Seq()),
          col("c_mktsegment"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          (sum(round(col("c_acctbal") * 100).cast("long")) / 100.0).as("total_acctbal"))
        .select(
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          col("n_customers"), col("total_acctbal"))
    }),

    // R34: exact interpolated percentiles per group (percentile_cont
    // semantics) — the distribution summary approx_quantile trades
    // away; exact quantity values make the interpolation arithmetic
    // engine-identical
    // Rewritten on RobustStats (was Spark's exact `percentile`, which
    // collects per-group arrays): the SpillablePercentile aggregate —
    // identical interpolated values and plan shape, but the buffer
    // spills sorted runs to disk, so per-group memory is the spill
    // threshold instead of the group size
    "q_percentiles" -> ((s, dir) =>
      graft.ops.RobustStats.percentilesByGroup(
          Tables.lineitem(s, dir), "l_returnflag", "l_quantity",
          Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))
        .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"),
          col("n"))),

    // E35: BATCH sessionization — the same 30-minute-gap session
    // semantics as the streaming flatMapGroupsWithState operator, as a
    // pure window composition: flag gap-openers with lag(), running-sum
    // the flags into session indexes, aggregate per session. One
    // shuffle on user_id; (ts, event_id) ordering is total so session
    // boundaries are deterministic under any partitioning.
    "q_sessionize" -> ((s, dir) => {
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
    }),

    // E155: sequence training-example construction — per-user
    // next-event-prediction pairs (context of the 3 preceding event
    // types → target), the dataset-building step behind session-based
    // recommenders and behavioral LMs. One window sort per user on
    // (ts, event_id) — the q_sessionize shape — lag() assembles the
    // context (no self-join, no explode), full-context examples only;
    // context emitted as a '>'-joined string so the artifact is flat.
    // At 100 TB this is one user-keyed shuffle; context length is a
    // compile-time constant so the plan stays one Window operator.
    "q_seq_examples" -> ((s, dir) => {
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
    }),

    // E36: fixed-width revenue histogram — integer bucket arithmetic on
    // exact cents (25k-currency-unit buckets), one scan one shuffle
    "q_histogram" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
        .select(expr("cents div 2500000").as("bucket"), col("cents"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("cents")) / 100.0).as("revenue"))
        .withColumn("bucket_lo", col("bucket") * 25000L)),

    // E37: TF-IDF top terms per document — the vocabulary-weighting
    // primitive. tf and df from exact counts; idf = ln(N/df) rounded to
    // 6 dp ONLY because ln differs across libm implementations (the
    // repo's round() rule); ranking uses the rounded value + term
    // tiebreak so both engines select identical rows.
    "q_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val tokens = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      // NOT staged (r17, measured and rejected — see q_bm25): the
      // staged-tf single-tokenize form measured slower at sf0.1 and at
      // the 500k-doc probe (5.2 vs 4.9 s); re-tokenizing is cheaper
      // than staging here.
      val tf = tokens.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tokens.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)
      tf.join(df, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .filter(col("doc_id") < 20)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("term"), col("tfidf"))
    }),

    // R35: TPC-H Q14 analog (promo revenue share) — fact⋈dim join with
    // a conditional numerator; share is a double division of two exact
    // unit sums, so it is bit-identical across engines
    "q_tpch_q14" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          (round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_units"))
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .agg(
          (sum(when(col("p_type") === "PROMO", col("rev_units")).otherwise(0L)) / 10000.0)
            .as("promo_revenue"),
          (sum(col("rev_units")) / 10000.0).as("total_revenue"),
          (lit(100.0) * sum(when(col("p_type") === "PROMO", col("rev_units")).otherwise(0L))
            / sum(col("rev_units"))).as("promo_share_pct"))
    }),

    // R36: TPC-H Q10 analog (returned-item revenue by customer):
    // selective fact filter, two fact joins, broadcast dim, exact-cents
    // grouped revenue, deterministic top-20
    "q_tpch_q10" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_units"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"))
      val n = Tables.nation(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
        .agg((sum(col("rev_units")) / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // R43: percent-of-total — each nation's revenue share within its
    // region (window-sum ratio, the ratio_to_report idiom). Shares are
    // double divisions of identical exact cent sums → bit-identical.
    "q_share_of_total" -> ((s, dir) => {
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
    }),

    // E72: event transition matrix — consecutive event-type pairs per
    // user (lag window, (ts, event_id) total order) counted corpus-wide:
    // the Markov-chain view of user behavior. One shuffle on user_id,
    // then a tiny types×types aggregate.
    "q_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // E75: market-basket co-occurrence — part pairs bought in the same
    // order, ranked by support. The pair join is keyed by l_orderkey
    // (self-join within order groups): per-order quadratic is bounded
    // by basket size, the shuffle is order-keyed — never a global
    // cross join. Deterministic top-20 with full tiebreaks.
    "q_copurchase" -> ((s, dir) => {
      // r16 (guide §2.4/§3): the ok-keyed SELF-JOIN formulation shuffled
      // the distinct (order, part) rows twice (distinct exchange + join
      // re-shuffle) and sorted ~1M pair rows through an SMJ before the
      // pair aggregation (measured 11 cpu-s / 3.8 s bench). Orders are
      // BOUNDED baskets (TPC-H ≤ 7 lines), so the a<b pair set is
      // row-local math on the per-order part set: one exchange keyed by
      // order builds collect_set, pairs enumerate from the sorted array
      // in place, and the pair aggregation partial-aggregates map-side.
      // Same pair multiset ⇒ identical counts; plan 3 exchanges → 2.
      // basket_pairs kernel, not nested transform/slice lambdas (r16
      // follow-up — same CodegenFallback rationale as q_khop)
      val pairs = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy(col("ok"))
        .agg(sort_array(collect_set(col("pk"))).as("ps"))
        .select(explode(
          graft.functions.exprs.basket_pairs(col("ps"), directed = false)).as("p"))
      pairs.groupBy(col("p.a").as("part_a"), col("p.b").as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a").asc, col("part_b").asc)
        .limit(20)
    }),

    // E76: new-vs-returning daily split — each day's events divided by
    // whether the user's FIRST-seen day is that day. First-seen is a
    // user-keyed min-agg joined back on the same key (partitioning
    // reused, q_funnel-style).
    "q_new_vs_returning" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      ev.join(first, "user_id")
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
          sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("n_returning"),
          count_distinct(when(col("day") === col("first_day"), col("user_id"))).as("u_new"))
    }),

    // E74: per-group z-score outliers — orders priced > 2σ from their
    // own customer's mean. Mean and stddev come from EXACT integer
    // sums (the q_stats_exact discipline, not Spark's order-dependent
    // streaming moments), so z and the > 2 cut are bit-identical
    // across engines and partitionings.
    "q_outliers" -> ((s, dir) => {
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
    }),

    // E73: DAU/WAU — daily and 7-day-trailing distinct actives. The
    // rolling DISTINCT cannot ride a window frame (count_distinct isn't
    // a window function); the scale shape is the explode: each
    // (day, user) row votes into the 7 windows it belongs to, then one
    // distinct-agg per window day — shuffle ∝ active-pairs × 7, never
    // a day×day self-join.
    "q_active_users" -> ((s, dir) => {
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
    }),

    // R39: RANGE-frame window — 7-DAY trailing revenue per customer
    // (a time interval, not a row count: gaps in the order history
    // change the frame, which ROWS BETWEEN cannot express). Exact cents
    // keep the running sums engine-identical.
    "q_range_frame" -> ((s, dir) => {
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
    }),

    // R40: unpivot — wide (one column per measure) back to long
    // (measure, value) rows; the inverse of q_pivot_wide, one scan,
    // no shuffle at all
    "q_unpivot" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
          round(col("l_discount") * 100).cast("long").as("discount_pct"),
          round(col("l_tax") * 100).cast("long").as("tax_pct"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("price_cents"), col("discount_pct"), col("tax_pct")),
          "measure", "value")),

    // R41: correlated scalar subquery — orders above their own
    // customer's average (Catalyst decorrelates to an aggregate +
    // join; the oracle states it in subquery form, proving the
    // rewrite's semantics). Threshold comparison on exact cents.
    "q_correlated" -> ((s, dir) => {
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
    }),

    // E54: schema'd JSON extraction from the semi-structured props
    // column (from_json with an explicit schema — parse once, codegen'd,
    // no per-row schema inference) + grouped rollup of the parsed field
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"))),

    // E55: time-series gap fill — per-user calendar spine (explode of a
    // date sequence, no driver loop) left-joined to daily activity;
    // counts zero-fill, values forward-fill via last(ignoreNulls) over
    // an ordered per-user window. One shuffle on user_id.
    "q_gap_fill" -> ((s, dir) => {
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
    }),

    // E119: multi-touch attribution — each purchase credited to the
    // FIRST and LAST click/view inside a 3-day lookback. One RANGE
    // window per user on the micros axis; min/max OF STRUCT pick the
    // touches, so the result is deterministic even when two touches
    // share a timestamp (event_id tiebreak inside the struct) — first/
    // last() over a range frame would depend on intra-tie row order.
    "q_attribution" -> ((s, dir) => {
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
    }),

    // E120: referential-integrity audit — orphan counts for every FK
    // edge of the star schema in one report (id-only projections, one
    // shuffle join per edge, no row payload moves). The orders edge is
    // audited against a DELIBERATELY corrupted parent view (keys
    // divisible by 97 removed) so the detector provably fires; the
    // clean edges prove the data, not the absence of the check.
    "q_fk_violations" -> ((s, dir) => {
      def edge(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame =
        child.select(col(ck).as("k"))
          .join(parent.select(col(pk).as("k"), lit(1).as("p")), Seq("k"), "left")
          .agg(count(lit(1)).as("n_children"),
            sum(when(col("p").isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(name).as("edge"), col("n_children"), col("n_orphans"))
      val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir); val n = Tables.nation(s, dir)
      val p = Tables.part(s, dir); val su = Tables.supplier(s, dir)
      edge("lineitem->orders_corrupted", li, "l_orderkey",
          o.filter(col("o_orderkey") % 97 =!= 0), "o_orderkey")
        .unionByName(edge("lineitem->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(edge("lineitem->supplier", li, "l_suppkey", su, "s_suppkey"))
        .unionByName(edge("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(edge("customer->nation", c, "c_nationkey", n, "n_nationkey"))
    }),

    // E56: snapshot diff — dataset-version observability: one full-outer
    // join classifies every key as added / removed / changed / unchanged
    // between two snapshot views of the same table.
    "q_snapshot_diff" -> ((s, dir) => {
      val all = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      val v1 = all.filter(col("o_orderkey") % 5 =!= 0)
      val v2 = all.filter(col("o_orderkey") % 5 =!= 1)
        .withColumn("price_cents",
          when(col("o_orderkey") % 3 === 0, col("price_cents") + 100L)
            .otherwise(col("price_cents")))
      val a = v1.alias("a"); val b = v2.alias("b")
      a.join(b, col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
        .select(
          when(col("a.o_orderkey").isNull, "added")
            .when(col("b.o_orderkey").isNull, "removed")
            .when(col("a.price_cents") =!= col("b.price_cents")
              || col("a.o_orderstatus") =!= col("b.o_orderstatus"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }),

    // E57: nested-array analytics via higher-order functions — norm and
    // max-|x| computed INSIDE the row with aggregate()/transform()
    // lambdas (codegen'd, no explode shuffle); round(4) because the two
    // engines accumulate float lists independently.
    "q_vector_ops" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          round(sqrt(aggregate(col("embedding"), lit(0.0d),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("l2_norm"),
          round(array_max(transform(col("embedding"),
            x => abs(x.cast("double")))), 4).as("max_abs"))),

    // E49: batch MERGE upsert — base snapshot (orderkey % 3 != 0) merged
    // with an updates feed (orderkey % 2 == 0, repriced): matched rows
    // take the update, unmatched base rows survive, new keys insert.
    // One full-outer shuffle join; presence-flag (not coalesce) winner.
    "q_merge_upsert" -> ((s, dir) => {
      val all = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      val base = all.filter(col("o_orderkey") % 3 =!= 0)
      val updates = all.filter(col("o_orderkey") % 2 === 0)
        .withColumn("price_cents", col("price_cents") + 500L)
        .withColumn("o_orderstatus", lit("U"))
      graft.ops.Merge.upsert(base, updates, Seq("o_orderkey"))
    }),

    // E50: SCD2 — per-customer order history as validity intervals:
    // valid_from = this order's date, valid_to = the next order's date
    // (open for the current row). One window shuffle on the entity key,
    // (date, orderkey) tiebreak keeps intervals deterministic.
    "q_scd2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate"))
        .withColumn("valid_to_ts", lead(col("o_orderdate"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
          date_format(col("valid_to_ts"), "yyyy-MM-dd").as("valid_to"),
          col("valid_to_ts").isNull.as("is_current"))
    }),

    // R37: TPC-H Q18 analog (large-volume customers): a having-filtered
    // fact self-aggregation driving a 3-way join. The quantity sums are
    // integral doubles summed exactly (≤2^53), cast to long for a
    // hash-stable output; the big-side agg happens BEFORE the joins so
    // only qualifying orders (~1%) reach the join graph.
    "q_tpch_q18" -> ((s, dir) => {
      val huge = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
        .filter(col("total_qty") > 250L)
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
      huge.join(o, huge("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("order_date"), col("price_cents"), col("total_qty"))
        .orderBy(col("price_cents").desc, col("o_orderkey").asc)
        .limit(100)
    }),

    // R46: TPC-H Q4 analog (order priority checking) — EXISTS over a
    // correlated fact condition, planned as a LEFT SEMI join on the
    // order key with the lateness predicate as the join residual (the
    // schema has no commit/receipt dates; "late" = shipped > 90 days
    // after the order date)
    "q_tpch_q4" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      o.join(li,
          o("o_orderkey") === li("l_orderkey") &&
            li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "leftsemi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // R47: TPC-H Q12 analog (shipping-mode priority split) — CASE
    // conditional aggregation over a fact-fact join (l_returnflag
    // stands in for l_shipmode, absent from this schema)
    "q_tpch_q12" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_returnflag"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
    }),

    // R48: TPC-H Q17 analog (small-quantity-order revenue) — the
    // correlated per-part average DECORRELATED by hand into a grouped
    // stats join; the 0.2·avg cut is evaluated in exact integers
    // (5·qty·cnt < Σqty ⟺ qty < 0.2·avg) so no float division ever
    // decides a row's membership
    "q_tpch_q17" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#12").select(col("p_partkey"))
      val liP = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val stats = liP.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
      liP.join(stats, "l_partkey")
        .filter(col("qty") * 5 * col("cnt") < col("sum_qty"))
        .agg((sum(col("cents")).cast("double") / 100.0 / 7.0).as("avg_yearly"))
    }),

    // R49: TPC-H Q19 analog (discounted revenue, OR-of-ANDs) — the
    // classic disjunctive join residual: three brand/size/quantity
    // bands OR'd together over one part join, exact-unit revenue
    "q_tpch_q19" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          round(col("l_discount") * 100).cast("long").as("dc"))
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val band = (brand: String, sizeHi: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
          col("l_quantity").between(qLo, qHi)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(band("Brand#12", 15, 1, 21) ||
          band("Brand#23", 30, 10, 30) ||
          band("Brand#34", 45, 20, 40))
        .agg((sum(col("cents") * (lit(100L) - col("dc"))) / 10000.0).as("revenue"))
    }),

    // E80: PageRank over the part co-purchase graph — the iterative
    // graph computation pattern (rank mass flows along edges, fixed
    // damping, 3 unrolled iterations). All arithmetic is exact 64-bit
    // integer micro-units with explicit integer division (`div` /
    // DuckDB `//`), so the cross-engine hash match is exact despite
    // double-free iteration — float rank vectors would drift with
    // Spark's aggregation order. Each iteration is one join + one
    // partial-aggregated shuffle; on a cluster, `edges` would be
    // co-partitioned by src across iterations.
    "q_pagerank" -> ((s, dir) => {
      // one ship-year of co-purchases: the graph stays meaningful and
      // the filter pushes to both scans of the self-join
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.as("a"); val b = li.as("b")
      // staged: edges feeds 3 iterations + outdeg + nodes, and outdeg
      // and nodes feed every iteration (distinct pairs and exact counts)
      val edges = graft.ops.Staging.stage(a.join(b,
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        .distinct())
      val outdeg = graft.ops.Staging.stage(
        edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
      val nodes = graft.ops.Staging.stage(
        edges.select(col("src").as("node")).distinct())
      var ranks = nodes.withColumn("rank", lit(1000000L))
      for (_ <- 1 to 3) {
        // per-src contribution is NODE-sized — joining it to the
        // EDGE-sized list once (AQE broadcasts it) instead of dragging
        // rank and outdeg through two edge-wide joins
        val srcC = ranks.withColumnRenamed("node", "src")
          .join(outdeg, "src")
          .select(col("src"), expr("rank div outdeg").as("c"))
        val contrib = edges.join(srcC, "src")
          .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
          .withColumnRenamed("dst", "node")
        ranks = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(150000L) +
              expr("(coalesce(in_sum, CAST(0 AS BIGINT)) * 85) div 100"))
              .cast("long").as("rank"))
      }
      ranks.orderBy(col("rank").desc, col("node").asc).limit(20)
    }),

    // E83: exact triangle count over the 1998 co-purchase graph —
    // degree-oriented wedge join (compact-forward): wedge volume is
    // quadratic in oriented out-degree only, so hubs don't detonate it;
    // the oracle recounts with the canonical u<v<w 3-way join
    "q_triangles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.as("a"); val b = li.as("b")
      val edges = a.join(b, col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
      graft.ops.Graph.triangleCount(edges)
    }),

    // E84: 2-D Pareto frontier (cheapest-and-smallest parts) — binned
    // two-level prefix minima, no global-order window; the oracle runs
    // the quadratic NOT EXISTS definition
    "q_skyline" -> ((s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"),
        col("p_size"))
      graft.ops.Skyline.pareto2d(p, "price_cents", "p_size", binWidth = 1000L)
        .select(col("p_partkey"), col("price_cents"), col("p_size"))
    }),

    // E85: null-safe equality join semantics pin — NULL keys match via
    // <=> (regular equi-joins silently drop them; compaction/merge
    // already rely on this). The nullable key is derived
    // deterministically so both engines see identical NULL rows.
    "q_nullsafe_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          expr("nullif(o_orderpriority, '3-MEDIUM')").as("pr"))
      val dim = o.select(col("pr").as("pr_d")).distinct()
        .withColumn("pr_label", coalesce(col("pr_d"), lit("UNSPECIFIED")))
      o.join(broadcast(dim), col("pr") <=> col("pr_d"))
        .groupBy(col("pr_label")).agg(count(lit(1)).as("n_orders"))
    }),

    // R56: per-nation least-squares revenue trend — the reference's
    // per-country change analysis generalized from a 2-point delta to an
    // OLS slope over all years. Moments (n, Σx, Σy, Σxy, Σx²) are exact
    // integers (x = year offset, y = cents); only the final slope
    // combination is float, per the exact-stats convention — so both
    // engines divide the SAME two integers.
    "q_ols_trend" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val yearly = Tables.orders(s, dir)
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"),
          (year(col("o_orderdate")) - lit(1995)).cast("long").as("x"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
      yearly.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_years"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("c_nationkey"), col("n_years"),
          ((col("n_years") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n_years") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope_cents_per_year"))
    }),

    // R57: chi-square independence test (status × priority) — all
    // contingency counts exact integers; the per-cell float terms are
    // summed in EXPLICIT (status, priority) order on both engines
    // (sort_array + aggregate fold here, sum(ORDER BY) there), so the
    // statistic is bit-identical despite float accumulation.
    "q_chi_square" -> ((s, dir) => {
      // contingency cells are ≤ |status|·|priority| rows but feed FOUR
      // consumers (row totals, column totals, grand total, the term
      // join); unstaged, each consumer re-ran the full orders scan+agg
      // (8 parquet scans in the r17 before-plan). Staging the tiny cell
      // table = one orders pass (same fix as Dsir's bucket counts).
      // Exact integer counts — values unchanged.
      val cells = graft.ops.Staging.stage(Tables.orders(s, dir)
        .groupBy(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"))
        .agg(count(lit(1)).as("obs")))
      val rt = cells.groupBy(col("st")).agg(sum(col("obs")).as("rt"))
      val ct = cells.groupBy(col("pr")).agg(sum(col("obs")).as("ct"))
      val tot = cells.agg(sum(col("obs")).as("n"),
        count_distinct(col("st")).as("nr"), count_distinct(col("pr")).as("nc"))
      val terms = cells
        .join(broadcast(rt), "st").join(broadcast(ct), "pr")
        .crossJoin(broadcast(tot))
        .withColumn("exp",
          col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double"))
        .withColumn("term",
          (col("obs").cast("double") - col("exp")) *
            (col("obs").cast("double") - col("exp")) / col("exp"))
      terms
        .groupBy(col("n"), col("nr"), col("nc"))
        .agg(sort_array(collect_list(struct(col("st"), col("pr"), col("term"))))
          .as("a"))
        .select(
          aggregate(col("a"), lit(0.0), (acc, x) => acc + x("term")).as("chi2"),
          ((col("nr") - 1) * (col("nc") - 1)).as("dof"), col("n"))
    }),

    // E86: normalization-insensitive exact dedup — case/whitespace/
    // punctuation folded before the fingerprint-first grouping, catching
    // the trivial reformat copies plain exact dedup misses; same
    // hash-shuffles-not-text scale shape as q_dedup_exact
    "q_dedup_normalized" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("nt",
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
        .groupBy(md5(col("nt")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))),

    // R51: per-group mode (most frequent value) via max(struct(cnt,
    // value)) — a partial-aggregable shuffle, never a per-group window
    // sort; tiebreak = greatest value, mirrored exactly in the oracle
    "q_mode" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(max(struct(col("cnt"), col("lang"))).as("m"))
        .select(col("source"), col("m.lang").as("modal_lang"),
          col("m.cnt").as("modal_cnt"))),

    // R50: TPC-H Q22 analog (global-sales-opportunity) — scalar
    // subquery (global positive-balance average, a 1-row broadcast) +
    // NOT EXISTS anti-join, grouped by nation instead of the absent
    // phone country code. "No orders" becomes "no orders since 2000"
    // (every synthetic customer has SOME order — dormancy is the
    // analog that leaves a non-trivial answer set)
    "q_tpch_q22" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val thr = c.filter(col("bal_cents") > 0L)
        .agg((sum(col("bal_cents")).cast("double") / count(lit(1))).as("avg_bal"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      c.crossJoin(broadcast(thr))
        .filter(col("bal_cents").cast("double") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), sum(col("bal_cents")).as("totacctbal_cents"))
    }),

    // R58: TPC-H Q2 analog (min-cost supplier per part in a region) —
    // the correlated-min + join-back (argmin) pattern: per-(part,
    // supplier) shipped value stands in for ps_supplycost (no partsupp
    // table); within EUROPE, each size-15 part picks its minimum-value
    // supplier via ONE min(struct) partial agg — no window, ties to the
    // smallest suppkey by struct order
    "q_tpch_q2" -> ((s, dir) => {
      val euroNations = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(euroNations), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val p = Tables.part(s, dir).filter(col("p_size") === 15)
        .select(col("p_partkey"), col("p_type"))
      val perPS = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("p_type"), col("s_suppkey"),
          col("s_name"), col("n_name"))
        .agg(sum(col("cents")).as("cost_cents"))
      perPS.groupBy(col("p_partkey"), col("p_type"))
        .agg(min(struct(col("cost_cents"), col("s_suppkey"),
          col("s_name"), col("n_name"))).as("m"))
        .select(col("p_partkey"), col("p_type"),
          col("m.cost_cents").as("cost_cents"), col("m.s_suppkey").as("s_suppkey"),
          col("m.s_name").as("s_name"), col("m.n_name").as("nation"))
    }),

    // R59: TPC-H Q8 analog (national market share): NATION_7 suppliers'
    // share of ASIA-customer order revenue per year — two independent
    // dim chains onto one fact; numerator and denominator exact units,
    // only the share division is float
    "q_tpch_q8" -> ((s, dir) => {
      val asiaCust = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .join(asiaCust, col("o_custkey") === col("c_custkey"), "leftsemi")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("u"))
      val supN = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(sum(when(col("s_nationkey") === 7, col("u")).otherwise(0L)).as("nation_u"),
          sum(col("u")).as("total_u"))
        .select(col("o_year"),
          (col("nation_u").cast("double") / col("total_u").cast("double"))
            .as("mkt_share"))
    }),

    // R60: TPC-H Q9 analog (product-line profit by nation and order
    // year): part-name filter + supplier-nation dim + order-year join,
    // exact-unit profit summed per (nation, year)
    "q_tpch_q9" -> ((s, dir) => {
      val redParts = Tables.part(s, dir)
        .filter(col("p_name").contains("red")).select(col("p_partkey"))
      val supNation = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("u"))
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), col("o_year"))
        .agg((sum(col("u")) / 10000.0).as("profit"))
    }),

    // R61: TPC-H Q11 analog (important stock): per-part shipped value
    // by NATION_3's suppliers, keeping parts above 0.1% of the nation
    // total — the grouped-agg + scalar-subquery-threshold pattern, the
    // 1-row threshold broadcast
    "q_tpch_q11" -> ((s, dir) => {
      val n3sup = Tables.supplier(s, dir)
        .filter(col("s_nationkey") === 3).select(col("s_suppkey"))
      // part-keyed rows, two consumers (threshold + filter) — each
      // re-ran the lineitem scan + join + agg when unstaged (r17, the
      // dsir fan-out fix). Exact integer cents — values unchanged.
      val vals = graft.ops.Staging.stage(Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_partkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .join(broadcast(n3sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey")).agg(sum(col("cents")).as("value_cents")))
      val thr = vals.agg((sum(col("value_cents")) / 1000.0).as("thr"))
      vals.crossJoin(broadcast(thr))
        .filter(col("value_cents").cast("double") > col("thr"))
        .select(col("l_partkey"), col("value_cents"))
    }),

    // R62: TPC-H Q13 analog (order-count distribution): customers LEFT
    // joined to their filtered orders so zero-order customers keep a
    // 0-count row, then the count-of-counts histogram
    "q_tpch_q13" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select(col("o_custkey"))
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey")).agg(count(col("o_custkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
    }),

    // R52: TPC-H Q15 analog (top supplier by quarterly revenue) — the
    // revenue "view" is a grouped agg reused twice; the global max is a
    // 1-row broadcast joined back by EQUALITY, so ties surface (the
    // spec's HAVING total = max(total)) with no window sort. Revenue in
    // exact 10^-4-dollar units; only the final display division is float.
    "q_tpch_q15" -> ((s, dir) => {
      // supplier-keyed rows, two consumers (max + join) — each re-ran
      // the filtered lineitem scan+agg when unstaged (r17). Exact
      // integer units — values unchanged.
      val rev = graft.ops.Staging.stage(Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
        .select(col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("u"))
        .groupBy(col("l_suppkey")).agg(sum(col("u")).as("rev_u")))
      val mx = rev.agg(max(col("rev_u")).as("mx"))
      Tables.supplier(s, dir)
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .crossJoin(broadcast(mx))
        .filter(col("rev_u") === col("mx"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_u") / 10000.0).as("total_rev"))
    }),

    // R53: TPC-H Q16 analog (supplier breadth per part segment) —
    // count-DISTINCT suppliers per (brand, type, size) via the lineitem
    // part↔supplier linkage (no partsupp table in this schema); the
    // spec's complaint-supplier NOT IN becomes a broadcast anti-join
    // (negative balance stands in for the complaint regex)
    "q_tpch_q16" -> ((s, dir) => {
      val bad = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val p = Tables.part(s, dir)
        .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "MEDIUM" &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // R54: TPC-H Q20 analog (suppliers with concentrated shipments) —
    // the nested semi-join chain: parts by name prefix → per-(part,
    // supplier) shipment profile → suppliers whose 1998 volume exceeds
    // half their all-time volume for such a part (the 0.5·availqty cut
    // re-expressed self-relatively — no partsupp table — in exact
    // integers: 2·q98 > qall) → supplier directory semi-join
    "q_tpch_q20" -> ((s, dir) => {
      val redParts = Tables.part(s, dir)
        .filter(col("p_name").startsWith("red")).select(col("p_partkey"))
      val prof = Tables.lineitem(s, dir)
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(
          sum(when(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1999-01-01").cast("timestamp"),
              col("l_quantity").cast("long")).otherwise(0L)).as("q98"),
          sum(col("l_quantity").cast("long")).as("qall"))
      val qualified = prof.filter(col("q98") * 2 > col("qall"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, dir)
        .join(qualified, col("s_suppkey") === col("l_suppkey"), "leftsemi")
        .select(col("s_suppkey"), col("s_name"))
    }),

    // R55: TPC-H Q21 analog (suppliers who kept orders waiting) — the
    // EXISTS + NOT EXISTS pair over the SAME fact: supplier s shipped
    // >60 days after the order date in a finished multi-supplier order
    // where no OTHER supplier was late. Both the late frame and the
    // participant frame are (order, supplier)-distinct before the
    // semi/anti joins, so order width never multiplies the probe.
    "q_tpch_q21" -> ((s, dir) => {
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val late = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
          col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val others = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2")).distinct()
      val lateOthers = late
        .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      late
        .join(others,
          col("l_orderkey") === col("ok2") && col("l_suppkey") =!= col("sk2"),
          "leftsemi")
        .join(lateOthers,
          col("l_orderkey") === col("ok3") && col("l_suppkey") =!= col("sk3"),
          "left_anti")
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc).limit(20)
    }),

    // R38: TPC-H Q7 analog (volume shipping between two nations): the
    // symmetric nation-pair filter pushes into BOTH dim joins
    // (broadcast), so the fact table is filtered by two semi-selective
    // dims before the (supp_nation, cust_nation, year) rollup.
    "q_tpch_q7" -> ((s, dir) => {
      val nations = Seq("NATION_1", "NATION_2")
      val n1 = Tables.nation(s, dir).filter(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir).filter(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("ship_year"),
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_units"))
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(cust, o("o_custkey") === cust("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
        .agg((sum(col("rev_units")) / 10000.0).as("revenue"))
    }),

    // E38: equi+range join (point-in-interval) via time binning —
    // events matched into each user's daily 2-hour activity windows.
    // The naive inequality join is a BroadcastNestedLoopJoin (quadratic);
    // the binned plan is a hash join on (user, hour-bin) + exact verify
    // (PlanAuditSpec asserts no nested-loop node)
    "q_range_join" -> ((s, dir) => {
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
    }),

    // E40: ordered funnel (view → click-after-view → purchase-after-
    // click). Each stage is a user-keyed min-aggregation, and every
    // subsequent join + groupBy reuses the user_id hash partitioning —
    // one logical shuffle shape repeated, never a window sort over the
    // whole event stream. Each stage's event_type filter pushes to the
    // parquet scan, so the three passes each read only their slice.
    "q_funnel" -> ((s, dir) => {
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
    }),

    // E41: cohort retention — users grouped by first-seen day, activity
    // counted per week offset. The cohort frame is a user-keyed agg
    // joined straight back to the user-keyed events (partitioning
    // reused); output cardinality is cohort-days × offsets, tiny at
    // any corpus scale.
    "q_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      ev.join(cohort, "user_id")
        .groupBy(
          date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          floor(datediff(col("day"), col("cohort_day")) / 7).cast("long").as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_active"))
    }),

    // E42: latest-per-key (the CDC/upsert compaction primitive as a
    // batch query) — ONE partial-aggregable shuffle via max(struct),
    // not a window sort: the struct's (ms, event_id) prefix is a total
    // order, so max() picks the unique latest row and map-side combine
    // keeps the shuffle at one record per (task, user).
    "q_latest_per_key" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"),
          col("event_type"), round(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("ms"), col("event_id"), col("event_type"), col("vm"))).as("last"))
        .select(col("user_id"), col("last.ms").as("last_ms"),
          col("last.event_id").as("last_event_id"),
          col("last.event_type").as("last_event_type"),
          col("last.vm").as("last_value_milli"))),

    // R27: wide pivot — one column per year, conditional-agg semantics
    "q_pivot_wide" -> ((s, dir) =>
      Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")))
        .groupBy(col("o_orderpriority"))
        .pivot("o_year", Seq(1996, 1997, 1998, 1999))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")))
        .select(col("o_orderpriority"),
          (col("1996") / 100.0).as("rev_1996"),
          (col("1997") / 100.0).as("rev_1997"),
          (col("1998") / 100.0).as("rev_1998"),
          (col("1999") / 100.0).as("rev_1999"))),

    // R28: the SQL front end over the same engine — registered views +
    // spark.sql, proving API parity with the DataFrame path
    "q_sql_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_returnflag,
              |       CAST(count(*) AS BIGINT) AS n_lines,
              |       sum(CAST(l_quantity AS BIGINT)) AS sum_qty
              |FROM lineitem_v GROUP BY l_returnflag""".stripMargin)
    }),

    // E17/E2: the SQL front end reaching an EXTENSION operator, not just
    // a plain table — near-dup pairs exposed as a view and consumed by
    // pure SQL (join back to the corpus, per-source dup-pair counts).
    // Catalyst inlines the view, so the SQL user gets the same
    // bucket-then-verify plan as the programmatic API.
    "q_sql_neardup" -> ((s, dir) => {
      graft.sql.GraftViews.registerBase(s, dir)
      graft.sql.GraftViews.registerNearDupPairs(s, dir)
      s.sql("""SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_pairs
              |FROM neardup_pairs p JOIN documents_v d ON p.id_a = d.doc_id
              |GROUP BY d.source""".stripMargin)
    }),

    // E1: exact dedup by content — fingerprint-first, so the shuffle key
    // is ~24 bytes of hashes rather than the document text itself
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactByFingerprint(Tables.documents(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_copies"))),

    // E2+E4: MinHash LSH dedup — survivors after transitive-closure
    // near-dup removal (oracle: exact string 5-gram Jaccard + recursive
    // closure in DuckDB; agreement holds because the verified pairs sit
    // far from the 0.8 threshold on either side)
    "q_dedup_minhash" -> ((s, dir) => {
      // consumes the session-standing shared funnel (PairFunnel, r12):
      // same losers set dropNearDups computes, built once per dataset
      val docs = Tables.documents(s, dir)
      val losers = graft.ops.PairFunnel.componentLabels(docs, "text", "doc_id", dir)
        .filter(col("root") =!= col("id"))
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"))
    }),

    // E159: corpus-level source-similarity matrix — which FEEDS overlap
    // in content (mirrors, shared boilerplate corpora), the curation
    // question upstream of doc-level dedup. Exact MinHash algebra: a
    // source's signature is the elementwise min of its docs' signatures
    // (one text pass + a catalog-sized keyed min); the oracle replays
    // the full kernel — rolling-gram hash, splitmix64, the 64 embedded
    // (a,b) permutations — bit-for-bit in DuckDB.
    "q_source_similarity" -> ((s, dir) =>
      Dedup.sourceSimilarity(Tables.documents(s, dir), "text", "source")),

    // E64: quality-aware dedup — the production policy: within each
    // near-dup cluster keep the HIGHEST-QUALITY member (min-id only as
    // the tiebreak), composing the closure labels with the quality
    // kernel. One max(struct) per component, no window.
    "q_dedup_keep_best" -> ((s, dir) => {
      // spread above Tables.SpreadMinBytes: the quality kernel runs at
      // the scan otherwise — one task on a single-row-group file. Below
      // it the scan's one task is no slower. The funnel gets the UNSPREAD
      // plan: minhashNearDupPairs spreads internally, and the funnel
      // cache key embeds the docs plan's semanticHash — passing the
      // spread frame here forked a second, byte-identical raw-corpus
      // funnel build per session (r16, guide §2.4).
      val base = Tables.documents(s, dir)
      val docs = Tables.spreadForKernel(base)
      val labels = graft.ops.PairFunnel.componentLabels(base, "text", "doc_id", dir)
      val scored = docs.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")) * 10000).cast("long").as("q_milli"))
      scored.join(labels, scored("doc_id") === labels("id"), "left")
        .select(col("doc_id"), col("q_milli"),
          coalesce(col("root"), col("doc_id")).as("root"))
        .groupBy(col("root"))
        .agg(max(struct(col("q_milli"), (lit(0L) - col("doc_id")).as("neg_id"))).as("best"),
          count(lit(1)).as("n_members"))
        .select((lit(0L) - col("best.neg_id")).as("doc_id"),
          col("best.q_milli").as("quality_milli"), col("n_members"))
    }),

    // E139: jaccard-threshold calibration sweep — the near-dup load
    // (pairs, docs touched) at every candidate threshold, from ONE
    // banding+verify pass at the grid minimum (a pair verified at the
    // minimum carries its jaccard; higher thresholds are filters over
    // the same verified set, never a re-shingle). The curve a curator
    // reads to pick jaccardThreshold before committing a dedup run —
    // the E2-side companion of E134/E135. Counts only (the jaccard
    // VALUE is hashed-shingle vs the oracle's string-shingle — same
    // pair set, not bit-identical values; every pair in the test
    // corpora sits ≥0.92, far from every grid point).
    "q_dedup_sweep" -> ((s, dir) => {
      val grid = Seq(60, 70, 80, 90)
      val pairs = graft.ops.PairFunnel.nearDupPairs(
        Tables.documents(s, dir), "text", "doc_id", dir,
        Dedup.MinhashParams(jaccardThreshold = 0.6))
      val gridDf = s.range(1)
        .select(explode(array(grid.map(lit): _*)).as("threshold_centi"))
      // per-row threshold fan-out via a higher-order array filter — no
      // inequality join, stays codegen; zeros restored by the grid join
      val q = pairs.withColumn("threshold_centi",
        explode(filter(array(grid.map(lit): _*), t => col("jaccard") * 100 >= t)))
      val pairAgg = q.groupBy(col("threshold_centi"))
        .agg(count(lit(1)).as("n_pairs"))
      val docAgg = q.select(col("threshold_centi"),
          explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy(col("threshold_centi"))
        .agg(count_distinct(col("id")).as("n_docs"))
      gridDf.join(pairAgg, Seq("threshold_centi"), "left")
        .join(docAgg, Seq("threshold_centi"), "left")
        .select(col("threshold_centi"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
    }),

    // E141: near-dup DEGREE distribution — how many verified ≥0.8
    // partners each duplicated doc has, rolled up to (degree → n_docs).
    // The template-storm detector: organic duplication shows degree 1-2,
    // a boilerplate/template burst shows a fat tail (one hub document
    // near-matching hundreds). Derived from the verified pair set, so
    // the cost is the funnel, not the corpus.
    "q_dup_degree" -> ((s, dir) => {
      // unspread plan: shares the session funnel with every other
      // default-params consumer (the build spreads internally; the
      // spread wrapper only forked the cache key — r16)
      val pairs = graft.ops.PairFunnel.nearDupPairs(
        Tables.documents(s, dir), "text", "doc_id", dir)
      pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
    }),

    // E2+E4: the verified near-dup pairs themselves (ids only — the
    // jaccard value is over hashed shingles, the oracle's over string
    // shingles; identical pair SET, bit-identical value not guaranteed)
    "q_dedup_minhash_pairs" -> ((s, dir) =>
      graft.ops.PairFunnel.nearDupPairs(Tables.documents(s, dir), "text", "doc_id", dir)
        .select(col("id_a"), col("id_b"))),

    // E128: SUBSTRING-level exact dedup — longest verified shared
    // substring (≥ 40 chars) per document pair, via hashed 40-gram
    // diagonal runs (the Spark-plan analog of suffix-array duplicate
    // detection; see Dedup.sharedSubstringSpans). Catches embedded/
    // quoted duplication that whole-doc fingerprints and set-Jaccard
    // under-report.
    "q_substring_dup" -> ((s, dir) =>
      // session-shared span pass (r16): containment and the minLen
      // sweep consume the same base — built once per snapshot
      graft.ops.PairFunnel.sharedSpans(Tables.documents(s, dir), "text",
          "doc_id", dir, minLen = 40)
        .select(col("id_a"), col("id_b"), col("max_shared_len"))),

    // E140: exact containment — pairs where the verified longest shared
    // span covers the WHOLE shorter document (doc-inside-doc: quoted
    // articles, mirrored pages, concatenated shards). Derived from the
    // E128 span pass + a length join; container = the longer doc
    // (min id on exact-duplicate ties). The removal policy differs
    // from near-dup dedup: the contained doc carries zero novel bytes.
    "q_containment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val lens = docs.select(col("doc_id"), length(col("text")).as("len"))
      graft.ops.PairFunnel.sharedSpans(docs, "text", "doc_id", dir, minLen = 40)
        .join(lens.select(col("doc_id").as("id_a"), col("len").as("len_a")), "id_a")
        .join(lens.select(col("doc_id").as("id_b"), col("len").as("len_b")), "id_b")
        .filter(col("max_shared_len") >= least(col("len_a"), col("len_b")))
        .select(
          when(col("len_a") > col("len_b"), col("id_a"))
            .when(col("len_b") > col("len_a"), col("id_b"))
            .otherwise(least(col("id_a"), col("id_b"))).as("container_id"),
          when(col("len_a") > col("len_b"), col("id_b"))
            .when(col("len_b") > col("len_a"), col("id_a"))
            .otherwise(greatest(col("id_a"), col("id_b"))).as("contained_id"),
          least(col("len_a"), col("len_b")).cast("long").as("contained_len"))
    }),

    // E134: minLen calibration sweep for E128 — the shared-span load at
    // every threshold on a grid, from ONE gram pass at the grid minimum
    // (span lengths are threshold-independent once ≥ gram size; the
    // fan-out rides the rare pair funnel, never the corpus). The curve
    // a curator reads to PICK minLen before the full dedup run.
    "q_substring_sweep" -> ((s, dir) =>
      Dedup.sharedSpanSweep(Tables.documents(s, dir), "text", "doc_id",
        grid = Seq(40, 80, 160, 320),
        baseSpans = Some(graft.ops.PairFunnel.sharedSpans(
          Tables.documents(s, dir), "text", "doc_id", dir, minLen = 40)))),

    // E132: delta novelty rate — per source in an incoming delta slice,
    // the fraction of its DISTINCT 12-grams absent from the standing
    // corpus: the "is this crawl worth ingesting" measurement (a
    // near-zero novelty source is re-crawling what the corpus already
    // holds). Hashed-gram discipline (8-byte keys, rolling kernel, no
    // strings shuffled); the anti-join runs on distinct (source, gram)
    // rows, so cost is vocabulary-sized. Exact basis points.
    "q_novelty" -> ((s, dir) => {
      val docs = Tables.roundRobinSpread(Tables.documents(s, dir))
        .filter(length(col("text")) >= 12)
      val grams = (side: DataFrame) => side.select(col("source"),
        explode(array_distinct(
          graft.functions.exprs.gram_hashes64(col("text"), 12))).as("g"))
      // r17 SCALE SHAPE (gated on the footer doc count, the
      // exactDfAutoDocs idiom): below the gate the r16 plan is kept
      // byte-for-byte — AQE broadcasts the corpus-gram set and the
      // delta distinct's one exchange feeds the probe directly. Above
      // it (sf10 stage profile: corpus vocab ~50M rows, join went
      // sort-merge) two defects appear that the small plan never has:
      // (1) dg pays TWO full exchanges — hash(source, g) for its
      //     distinct, then hash(g) for the join (268 MB + 254 MB at
      //     sf10). Pre-partitioning the raw delta grams by g lets the
      //     subset rule (hash(g) clusters (source, g)) satisfy the
      //     distinct AND the join from ONE exchange; the lost map-side
      //     partial distinct only bought 20.4M -> 11M rows there, so
      //     the single raw exchange is byte-comparable and a whole
      //     aggregation stage + exchange shorter.
      // (2) the sort-merge join sorts both vocab-scale sides (~58M
      //     rows); the shuffle_hash hint builds the corpus side's
      //     per-partition hash table instead (8-byte keys, ~1.6M rows
      //     per partition at sf10) — the minhash funnel's standing
      //     argument against sorting what a hash map can walk.
      // Join strategy and partitioning change no values; the distinct
      // sets and the left-join semantics are identical in both shapes.
      val bigDocs = s.conf.getOption("spark.graft.novelty.bigCorpusDocs")
        .map(_.toLong).getOrElse(200000L)
      val big = Tables.parquetRowCount(s, dir, "documents") > bigDocs
      val dgRaw = grams(docs.filter(col("doc_id") % 7 === 3))
        .select(col("source"), col("g"))
      val dg = (if (big) dgRaw.repartition(col("g")) else dgRaw).distinct()
      val cgD = grams(docs.filter(col("doc_id") % 7 =!= 3))
        .select(col("g")).distinct()
      val cg = if (big) cgD.hint("shuffle_hash") else cgD
      // one outer join + one aggregation (r16): the anti-join + two
      // separate aggs + re-join consumed dg twice — the profile showed
      // the delta gram pass running once per consumer. cg's grams are
      // distinct, so the left join matches each (source, g) at most
      // once: count/novel in one pass, identical numbers.
      dg.join(cg.withColumn("__hit", lit(1)), Seq("g"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_novel"))
        .select(col("source"), col("n_grams"), col("n_novel"),
          expr("(n_novel * 10000) div n_grams").as("novelty_bp"))
    }),

    // E32: benchmark decontamination — containment of a held-out "eval"
    // slice in the remaining corpus (asymmetric, broadcast-eval join;
    // the near-dup planted pairs that straddle the split surface here).
    // 8-char shingles, not 5: on a small-vocabulary corpus short grams
    // collide across most documents and the gram join explodes; longer
    // shingles span word boundaries and stay distinctive (background
    // containment 0.36 vs 0.98+ for true contamination)
    "q_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val evalDocs = docs.filter(col("doc_id") % 20 === 3)
      val corpus = docs.filter(col("doc_id") % 20 =!= 3)
      // session-shared (r16): the decontaminate ACTION query runs the
      // identical fused scan — built once per snapshot
      graft.ops.PairFunnel.contaminationPairs(docs, corpus, evalDocs,
        "text", "doc_id", dir, shingleN = 8, threshold = 0.8)
    }),

    // E71: decontamination ACTION — the flag→remove pair completed:
    // corpus minus every doc a contamination pair names (left-anti on
    // the id-only pair frame; eval docs pass through untouched since
    // they were never corpus rows)
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val evalDocs = docs.filter(col("doc_id") % 20 === 3)
      val corpus = docs.filter(col("doc_id") % 20 =!= 3)
      val flagged = graft.ops.PairFunnel.contaminationPairs(docs, corpus,
          evalDocs, "text", "doc_id", dir, shingleN = 8, threshold = 0.8)
        .select(col("corpus_id").as("doc_id"))
      corpus.join(flagged, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"))
    }),

    // E33: dedup observability — near-dup component-size histogram
    // (how big are the duplicate families?), closure-labels grouped
    // twice; oracle recomputes components with the recursive CTE
    "q_dup_component_sizes" -> ((s, dir) => {
      graft.ops.PairFunnel.componentLabels(Tables.documents(s, dir), "text", "doc_id", dir)
        .groupBy(col("root")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_components"))
    }),

    // E117: leakage-safe train/val/test split — the hash split
    // (q_split_assign) is WRONG in the presence of near-duplicates: two
    // near-identical docs can land in train and test, leaking eval
    // content into training. Here the split key is the near-dup
    // COMPONENT root (closure over exact-verified pairs), so whole dup
    // families move together — cross-split near-dup pairs are ZERO by
    // construction (asserted in DedupSpec). Content-hash split on the
    // group key keeps the assignment reproducible and growth-stable.
    "q_leakage_safe_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = graft.ops.PairFunnel.componentLabels(docs, "text", "doc_id", dir)
      docs
        .join(labels.select(col("id").as("doc_id"), col("root")),
          Seq("doc_id"), "left")
        .withColumn("gk", coalesce(col("root"), col("doc_id")))
        .withColumn("split", Chunking.splitAssign(col("gk").cast("string")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("gk")).as("n_groups"))
    }),

    // E118: tokenizer fertility — tokens-per-word and chars-per-token
    // by language, THE go/no-go metric when choosing a tokenizer for a
    // multilingual corpus (high fertility = wasted context window).
    // One scan, exact long sums, two final divisions.
    "q_tokenizer_fertility" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("ws"),
          TextAnalysis.tokenCountBpeish(col("text")).cast("long").as("bp"),
          length(col("text")).cast("long").as("ch"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("tokens_ws"),
          sum(col("bp")).as("tokens_bpeish"),
          sum(col("ch")).as("chars"))
        .select(col("lang"), col("n_docs"), col("tokens_ws"),
          col("tokens_bpeish"), col("chars"),
          round(col("tokens_bpeish").cast("double") / col("tokens_ws"), 6)
            .as("fertility"),
          round(col("chars").cast("double") / col("tokens_bpeish"), 6)
            .as("chars_per_token"))),

    // E3: per-doc 64-bit SimHash (custom codegen'd expression)
    "q_dedup_simhash" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.exprs.simhash64(col("text"), 3).as("simhash"))),

    // E3: hamming-verified near-dup pairs via 16-bit-chunk bucketing.
    // With maxHamming=3 and four chunks the pigeonhole principle makes
    // the bucketed result EXACTLY equal to all-pairs hamming — asserted
    // against brute force in DedupSpec at sf0.01.
    "q_dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, dir), "text", "doc_id")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),

    // E5: embedding near-dup pairs, multi-table hyperplane LSH + cosine
    // verify at a REAL threshold. The sf embeddings are near-orthogonal
    // (max background cosine ≈ 0.51), so near-dups are planted in-query:
    // 2×-scaled copies of every vector. Positive scaling preserves every
    // hyperplane sign, so LSH recall on the planted pairs is exactly 1
    // BY CONSTRUCTION — which is what lets a brute-force DuckDB oracle
    // hash-match an LSH-bucketed plan.
    "q_embed_neardup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val scaled = e.select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val corpus = e.select(col("vec_id"), col("embedding")).unionByName(scaled)
      // r9 (found by the sf10 probe): FIXED numPlanes=8 does not
      // scale — expected bucket occupancy is n/2^planes, and the
      // candidate join is quadratic IN THE BUCKET, so 400k vectors in
      // 256 buckets/table meant ~1.2B candidate pairs and an executor
      // OOM after 742 s. r16 (the r15 decade probe's residual): the
      // integer schedule planes = ⌈log2(n/16)⌉ quantized occupancy
      // anywhere in (8, 16] and the ceiling jitter + tables growth
      // compounded into n^1.29 pair emission. Now the
      // occupancy-TARGETED schedule (Dedup.occupancyPlanesSchedule):
      // per-table planes mixed between ⌈log2(n/8)⌉ and one fewer so
      // MEAN occupancy plateaus at 8, table count from the Charikar
      // recall model over the mixed per-table collision rates
      // (miss ≤ 3% at θ = 0.98), PLUS the occupancy CAP (splitOcc =
      // 16): the 4M-vector band probe put 82% of emission in over-16-
      // occupancy buckets — the size-biased shoulder the mean can't
      // see — so over-cap buckets subdivide by extra signature-prefix
      // bits back toward the target, bounding ΣC(occ, 2) ≈ n·target
      // per table; emission then tracks the inherent n·tables ≈ n^1.1
      // envelope (record: r16_embed_neardup_probe.json). extraBits = 2
      // charges the cap's sub-key agreement to the recall model.
      // True near-dups here sit at cosine ≈ 1 (parallel vectors sign
      // identically under EVERY plane set — including the cap's extra
      // bits, so a cap can never separate a genuine family), so the
      // brute-force all-pairs oracle stays hash-green at every oracle
      // sf under any schedule — asserted each round. n comes from
      // parquet footers — no job in the query graph (the q_semdedup
      // discipline).
      val n = 2L * Tables.parquetRowCount(s, dir, "embeddings")
      val schedule = Dedup.occupancyPlanesSchedule(n, targetOcc = 8.0,
        theta = 0.98, extraBits = 2.0)
      val tables = schedule.length
      // bucket-join partition count (r15, from the embed decade probe):
      // bucket rows = n·tables; at 4M self-join vectors the default 32
      // partitions meant ~1.25M-row (~350 MB) SHJ builds per task and
      // the join-consume stage at 96.7% of query cpu, 1.45× the
      // per-pair cost of the 400k run — pure build locality, the same
      // mechanism as the r14 simjoin fix. ~250k bucket rows per task
      // (~70 MB builds), capped under the sort-bypass boundary like
      // the prefix join; row count from parquet footers, no job.
      val nParts = Dedup.sizedShufflePartitions(n * tables, 500000L,
        s.sessionState.conf.numShufflePartitions,
        s.conf.get("spark.shuffle.sort.bypassMergeThreshold", "200").toInt)
      Dedup.embeddingNearDupPairs(corpus, "embedding", "vec_id",
          schedule, 0.98, 42L, 64, nParts, splitOcc = 16, splitTarget = 8,
          stageBuckets = true)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),

    // E58: top-k per group via the bounded-heap aggregate — the general
    // form of the ANN ranking path: each map task ships ≤ k entries per
    // nation (score = price_cents as double, unique orderkey tiebreak
    // in the id), vs a window sort that shuffles EVERY order. The
    // oracle is the window formulation — proving the aggregate ==
    // window equivalence on real data.
    "q_topk_per_group" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      // id packs the orderkey; score ties broken by SMALLER id = smaller
      // orderkey, matching the oracle's (price DESC, orderkey ASC)
      o.groupBy(col("c_nationkey"))
        .agg(graft.functions.TopKByScore.agg(
          col("price_cents").cast("double"), col("o_orderkey"), 3).as("top"))
        .select(col("c_nationkey"), posexplode(col("top")))
        .select(col("c_nationkey"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("o_orderkey"), col("col.score").cast("long").as("price_cents"))
    }),

    // E6: exact brute-force cosine top-k
    "q_ann_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.bruteForceTopK(e, "vec_id", "embedding", queries, "qid", "qv", k = 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    }),

    // E7: LSH-bucketed approximate top-k (multi-table + multi-probe;
    // recall vs brute force measured in q_ann_lsh_recall and asserted
    // >= 0.8 in SimilaritySpec)
    "q_ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      Similarity.lshTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numPlanes = 8, numTables = 6, probeHamming = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    }),

    // E7: IVF (kmeans-cell) ANN — the index layout for clustered
    // embedding spaces; recall ≥ 0.9 proven on blob data in
    // SimilaritySpec (sf embeddings are isotropic, so rows-only here)
    "q_ann_ivf" -> ((s, dir) => {
      // overlap the sibling fits the rest of the family will consume
      // (see annPrefetch) — this query's own IVF fit proceeds inline
      // and the daemon builds fill its idle driver gaps
      annPrefetch(s, dir)
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      // the full 100 TB fit path exercised: quantizer fitted by a
      // deterministic driver-local Lloyd (k-means++ seeded) on a seeded
      // 25% sample — a quantizer fit is bounded-sample by design at any
      // corpus size, and the r3 Spark-ML fit here paid a scheduler
      // round-trip per Lloyd iteration (~5 s to cluster 1600 rows).
      // Probed candidates are pre-scored by a JL sketch with only the
      // top-240 shortlist getting the exact cosine. Recall on these
      // ISOTROPIC vectors is coverage-bound: 0.95 at the r7 operating
      // point nProbe=12/16 (picked off the q_ann_ivf_sweep curve;
      // balanced cells, ball-tree optimistic-bound cell ranking) — see
      // SimilaritySpec for why the r3-published 0.90 at HALF the
      // coverage was an artifact of a degenerate 23%-of-corpus cell,
      // not a better index
      Similarity.ivfTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numCells = 16, nProbe = 12,
          fitFraction = 0.25, rerankShortlist = fractionRerank(s, dir, 240),
          sketchDim = 32)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    }),

    // E7/E18: measured IVF recall on the sf embeddings. These are
    // ISOTROPIC (no planted cell structure), IVF's hard case — recall
    // is coverage-bound there: 0.95 @ sf0.01 at the r7 operating point
    // (nProbe 12/16, BALANCED cells; the full curve is q_ann_ivf_sweep),
    // vs ≥ 0.9 on clustered data at half the coverage (SimilaritySpec
    // blob test). Both numbers published on purpose: an ANN is only
    // shippable with its recall measured on the actual data shape.
    "q_ann_ivf_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numCells = 16, nProbe = 12,
          fitFraction = 0.25, rerankShortlist = fractionRerank(s, dir, 240),
          sketchDim = 32)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hit"), lit(0L)) / 5.0).as("recall"))
    }),

    // E135: the recall-vs-nProbe CURVE, from ONE assignment + scoring
    // pass (probe depth is a prefix property of the ranked cells — see
    // Similarity.ivfRecallSweep). Published as exact integer basis
    // points: recall_bp = Σ n_hit · 10000 / (k · |queries|). The curve
    // is what a user reads to PICK the operating point; the chosen
    // point (nProbe=12 → ≥0.85 isotropic) is what q_ann_ivf runs and
    // q_ann_ivf_recall + SimilaritySpec assert.
    "q_ann_ivf_sweep" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val nq = 20L
      val approx = Similarity.ivfRecallSweep(e, "vec_id", "embedding",
          queries, "qid", "qv", k = 5, numCells = 16,
          nProbes = Seq(2, 4, 8, 12, 16), fitFraction = 0.25)
        .select(col("n_probe"), col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy(col("n_probe")).agg(count(lit(1)).as("n_hit"))
        .select(col("n_probe"),
          expr(s"CAST(n_hit * 10000 div (5 * $nq) AS BIGINT)").as("recall_bp"))
    }),

    // E7: measured recall of the approximate path against the exact one,
    // per query — the number that makes an ANN shippable
    "q_ann_lsh_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.lshTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numPlanes = 8, numTables = 6, probeHamming = 2)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hit"), lit(0L)) / 5.0).as("recall"))
    }),

    // E78: product-quantization ANN — corpus scanned as m-byte PQ codes
    // (32× smaller than the vectors), ADC table-lookup scoring, exact
    // re-rank of the bounded-heap shortlist only. r9: the codebook fit
    // and the whole ADC funnel are portable integer arithmetic
    // (Similarity.fitPqCodebookQ's contract), so this query carries a
    // FULL DuckDB oracle (AnnPqCandidateCte). Recall 0.89 isotropic
    // sf0.01, measured in q_ann_pq_recall, asserted in SimilaritySpec.
    "q_ann_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      Similarity.pqTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, m = AnnPqM, codebookSize = AnnPqCodebook,
          rerank = fractionRerank(s, dir, 96), fitFraction = AnnPqFitFraction)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    }),

    // E78: measured PQ recall vs brute force on the sf embeddings
    // (isotropic — the hard case; the exact re-rank of the ADC
    // shortlist is what keeps recall high despite 32× compression)
    "q_ann_pq_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.pqTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, m = AnnPqM, codebookSize = AnnPqCodebook,
          rerank = fractionRerank(s, dir, 96), fitFraction = AnnPqFitFraction)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hit"), lit(0L)) / 5.0).as("recall"))
    }),

    // E84: IVF+PQ composed ANN — the Faiss IndexIVFPQ layout: coarse
    // cells over normalized vectors, residual PQ codes, probed-cell
    // compressed-domain scan (one ADC table per query serves every
    // probed cell), exact re-rank of the shortlist. The searchable
    // corpus copy is (int cell + m-byte code) per vector — at 100 TB
    // the scan touches ~nProbe/numCells of the corpus at ~32× fewer
    // bytes. r9: both codebooks and the whole composed funnel are
    // portable integer arithmetic, so this query carries a FULL DuckDB
    // oracle (AnnIvfPqCandidateCte). Recall 0.92 isotropic sf0.01 at
    // (nProbe 12, rerank 128), measured in q_ann_ivfpq_recall +
    // SimilaritySpec.
    "q_ann_ivfpq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      Similarity.ivfPqTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numCells = AnnIvfPqCells, nProbe = 12, m = AnnPqM,
          codebookSize = AnnPqCodebook, rerank = fractionRerank(s, dir, 128),
          fitFraction = AnnPqFitFraction)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    }),

    // E84: measured IVF+PQ recall vs brute force — the compound loss
    // (unprobed-cell misses + residual quantization) published honestly
    "q_ann_ivfpq_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfPqTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numCells = AnnIvfPqCells, nProbe = 12, m = AnnPqM,
          codebookSize = AnnPqCodebook, rerank = fractionRerank(s, dir, 128),
          fitFraction = AnnPqFitFraction)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hit"), lit(0L)) / 5.0).as("recall"))
    }),

    // E138: the IVF+PQ recall curve, one ADC pass (probe depth sliced
    // by cell rank, per-depth shortlist + shared exact re-rank) — the
    // PQ-side companion of q_ann_ivf_sweep, in the same integer basis
    // points. The operating point (nProbe=12, rerank=128 → 0.92 with
    // the r9 portable codebooks) is read off this curve; the curve
    // itself is DuckDB-replayed (AnnIvfPqCandidateCte sweep tail).
    "q_ann_ivfpq_sweep" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val nq = 20L
      val approx = Similarity.ivfPqRecallSweep(e, "vec_id", "embedding",
          queries, "qid", "qv", k = 5, numCells = AnnIvfPqCells,
          nProbes = Seq(2, 4, 8, 12, 16), m = AnnPqM, codebookSize = AnnPqCodebook,
          rerank = 128, fitFraction = AnnPqFitFraction)
        .select(col("n_probe"), col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy(col("n_probe")).agg(count(lit(1)).as("n_hit"))
        .select(col("n_probe"),
          expr(s"CAST(n_hit * 10000 div (5 * $nq) AS BIGINT)").as("recall_bp"))
    }),

    // E138 extension (r8): the full nProbe × rerank OPERATING SURFACE
    // from one ADC pass — rerank depth is a prefix property of the ADC
    // ranking just as probe depth is of the cell ranking, so the 20
    // grid cells cost one scan plus funnel-sized bookkeeping. A
    // deployment reads its (recall, scan-cost, rerank-cost) trade-off
    // straight off this table; the operating point (12, 128) is one
    // cell of it. Integer basis points, same discipline as the sweeps;
    // all 20 cells DuckDB-replayed (r9, AnnIvfPqCandidateCte grid tail).
    "q_ann_ivfpq_grid" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val nq = 20L
      val approx = Similarity.ivfPqGridSweep(e, "vec_id", "embedding",
          queries, "qid", "qv", k = 5, numCells = AnnIvfPqCells,
          nProbes = Seq(2, 4, 8, 12, 16), m = AnnPqM, codebookSize = AnnPqCodebook,
          fitFraction = AnnPqFitFraction, reranks = Seq(32, 64, 96, 128))
        .select(col("n_probe"), col("rerank"), col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy(col("n_probe"), col("rerank")).agg(count(lit(1)).as("n_hit"))
        .select(col("n_probe"), col("rerank"),
          expr(s"CAST(n_hit * 10000 div (5 * $nq) AS BIGINT)").as("recall_bp"))
    }),

    // E8: multimodal plumbing — batched feature extraction over payloads
    "q_multimodal_meta" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, dir))
      // mean_intensity: raw double (exact-int division, identical in any
      // IEEE engine — round() there only adds decimal-tie risk);
      // byte_entropy: rounded, because ln() differs by ulps across libms
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("mime"), col("n_bytes"), col("width"),
          col("height"), col("mean_intensity"),
          round(col("byte_entropy"), 4).as("byte_entropy"))
    }),

    // E133: REAL container decode — payloads carry genuine PNG/JPEG/WAV
    // structure (chunk CRCs, marker segments, RIFF alignment) and the
    // batched mapPartitions pass PARSES dimensions / sample counts from
    // the bytes, magic-sniffed. The oracle recomputes the expected
    // fields from the generator's id-arithmetic independently, so a
    // misparsed offset anywhere in the walk hash-mismatches.
    "q_media_dims" -> ((s, dir) => {
      val media = Multimodal.mediaWithHeaders(
        s, Tables.roundRobinSpread(Tables.documents(s, dir)))
      Multimodal.decodeMedia(s, media).toDF()
        .select(col("media_id"), col("fmt"), col("width"), col("height"),
          col("channels"), col("sample_rate"), col("n_samples"), col("n_bytes"))
    }),

    // E8: video frame sampling — deterministic offsets, 1 media row →
    // 8 frame rows, per-frame byte reduction (decode stubbed as byte
    // windows; see Multimodal.sampleFrames)
    "q_frame_sample" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(
        Tables.documents(s, dir)).filter(col("mime") === "video/mp4")
      Multimodal.sampleFrames(s, media, frameSize = 64, nFrames = 8).toDF()
        .select(col("media_id"), col("frame_idx"), col("frame_off"), col("byte_sum"))
    }),

    // E149: exact media dedup by payload digest — binary columns join
    // the dedup stack (text and embedding dedup existed; a media lake
    // dedups by content address). Digest computed in the scan; the
    // shuffle carries 16-byte keys, never payloads. The query publishes
    // the per-mime + ALL content-address summary (meaningful at every
    // sf — the testdata's exact-dup load only appears at sf0.1+);
    // the per-digest group form (cross-mime keep-rule) is
    // Multimodal.dedupMediaExact, pinned in MultimodalSpec on
    // constructed duplicates.
    "q_media_dedup" -> ((s, dir) =>
      Multimodal.mediaDedupStats(
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
        .orderBy(col("mime_group"))),

    // E156: curation-label propagation over the near-dup graph — a
    // curation decision made once must reach every near-duplicate, or
    // filtered content re-enters through its copies. Per dup component
    // the member weak-labels vote (majority; ties → the label carried
    // by the smallest member id); singletons keep their own label.
    // Composes E152's label model with the minhash closure; the
    // `changed` flag marks docs the graph overrode. Scale shape: the
    // funnel-sized pair set + O(log n) closure (the E117 machinery),
    // one root-keyed tally shuffle.
    "q_component_labels" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val comps = graft.ops.PairFunnel.componentLabels(docs, "text", "doc_id", dir)
      val rooted = graft.ops.WeakLabels.weakLabels(docs)
        .select(col("doc_id"), col("label"))
        .join(comps.select(col("id").as("doc_id"), col("root")),
          Seq("doc_id"), "left")
        .withColumn("root", coalesce(col("root"), col("doc_id")))
      graft.ops.WeakLabels.componentMajorityLabel(rooted)
    }),

    // E153: retrieval eval metrics — MRR / nDCG@5 / recall@5 of the
    // LSH run against the exact top-5 as qrels: the harness that turns
    // any ranked retrieval into comparable numbers. log2 discounts are
    // a driver-computed integer nano-unit table shared VERBATIM with
    // the oracle, so no transcendental runs inside either engine.
    "q_retrieval_metrics" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val run = Similarity.lshTopK(e, "vec_id", "embedding",
        queries, "qid", "qv", k = 5, numPlanes = 8, numTables = 6,
        probeHamming = 2)
      val qrels = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      Similarity.retrievalMetrics(run, qrels, k = 5)
    }),

    // E152: weak supervision — 4 labeling functions voting
    // {-1, 0, +1} on exact integer counts, combined by the one-step
    // agreement-weighted label model (weights = micro-unit agreement
    // with the unweighted majority over each LF's coverage). One text
    // scan for votes, a 2K-counter combinable agg collected as literal
    // weights, one labeling pass — and every number is exact, so the
    // whole label model carries a DuckDB oracle.
    "q_weak_labels" -> ((s, dir) =>
      graft.ops.WeakLabels.weakLabels(Tables.documents(s, dir))),

    // E151: contrastive training-pair mining (DPR/SimCSE recipe) —
    // 1 positive + 3 hard negatives (ranks 2-4) + 4 seeded random
    // negatives drawn outside the top block (false-negative guard),
    // each with its exact nano-unit cosine. Bounded-heap funnels on
    // both blocks; md5 draw makes the random side oracle-replayable.
    "q_contrastive_pairs" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.contrastivePairs(e, "vec_id", "embedding",
        queries, "qid", "qv", kHard = 3, nRandom = 4)
    }),

    // E150: ColBERT-style late-interaction retrieval (MaxSim) — the
    // multi-vector corpus is carved from the embeddings table (doc =
    // vec_id div 8 → 8 token vectors per doc), queries are the first 4
    // docs' token sets. Integer nano-unit cosines make the max/sum
    // exact under any partitioning, so the whole operator carries a
    // DuckDB oracle. At scale the doc side is an ANN shortlist — this
    // query runs the exhaustive re-rank form.
    "q_maxsim" -> ((s, dir) => {
      val toks = Tables.embeddings(s, dir)
        .select(expr("vec_id div 8").as("doc_id"),
          pmod(col("vec_id"), lit(8L)).as("pos"), col("embedding"))
      val queries = toks.filter(col("doc_id") < 4)
        .select(col("doc_id").as("q_doc"), col("pos").as("q_pos"),
          col("embedding").as("qe"))
      Similarity.maxSimTopK(toks, "doc_id", "embedding",
          queries, "q_doc", "q_pos", "qe", k = 5)
        .select(col("query_doc"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("score_nano"))
    }),

    // E70: per-source dataset card — the curator's per-crawl report:
    // volume, quality mass, language mix, exact-dup load, token supply,
    // ALL in one scan-and-aggregate pass composing five kernels (no
    // second scan per metric — compare q_profile's per-column story).
    "q_dataset_card" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), col("n_chars"),
          round(TextAnalysis.qualityScore(col("text")) * 10000).cast("long").as("qm"),
          (TextAnalysis.langIdHeuristic(col("text")) === "en").cast("long").as("is_en"),
          md5(col("text")).as("fp"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("qm")).as("quality_milli_sum"),
          sum(col("is_en")).as("n_en"),
          (count(lit(1)) - count_distinct(col("fp"))).as("n_exact_dup_docs"),
          sum(col("tok")).as("n_tokens_ws"))),

    // E9: language-ID heuristic
    "q_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.langIdHeuristic(col("text")).as("lang_id"))),

    // E10: quality scoring
    "q_text_quality" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.stopwordCount(col("text")).cast("long").as("stopword_hits"),
          TextAnalysis.qualityScore(col("text")).as("quality"))),

    // E11: token counting (whitespace + BPE-ish regex)
    "q_token_count" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens_ws"),
          TextAnalysis.tokenCountBpeish(col("text")).cast("long").as("n_tokens_bpeish"))),

    // E12: content fingerprints (md5 oracle-checked; rolling-hash custom expr)
    "q_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))),

    // R31: as-of join (point-in-time lookup) — each click joined to the
    // user's latest view at or before it; DuckDB's native ASOF JOIN is
    // the oracle for the composed union+window plan
    "q_asof_join" -> ((s, dir) => {
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
    }),

    // E87: the SAME as-of semantics through the custom physical operator
    // (AsOfJoinNode → AsOfJoinStrategy → AsOfJoinExec merge walk) — rung
    // (c) of the extension ladder; hash-matches the identical DuckDB
    // native ASOF oracle as q_asof_join, so the two implementations are
    // pinned equal by the gate itself
    "q_asof_exec" -> ((s, dir) => {
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
    }),

    // R42: as-of join with a staleness bound — latest view within 30
    // minutes of each click, else null (the feature-store TTL variant;
    // same single-shuffle plan as q_asof_join)
    "q_asof_tolerance" -> ((s, dir) => {
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
    }),

    // R44: FORWARD as-of — each click joined to the user's NEXT view at
    // or after it (same single-shuffle union+window plan, time order
    // reversed); oracle is a DuckDB LATERAL next-row lookup
    "q_asof_forward" -> ((s, dir) => {
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
    }),

    // R45: NEAREST as-of — closer of the two directions, exact ties
    // prefer backward (pandas merge_asof semantics); distances compared
    // in FLOORED MILLISECONDS on both engines so a sub-ms gap can never
    // flip the winner between Spark and the oracle
    "q_asof_nearest" -> ((s, dir) => {
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
    }),

    // E28: per-label embedding centroids (mean pooling) via exact
    // micro-unit sums — partition-order independent vector averaging
    "q_embed_centroids" -> ((s, dir) =>
      Similarity.meanPoolByGroup(Tables.embeddings(s, dir), "label", "embedding")),

    // E25: approximate quantiles (GK sketch) — cross-engine sketches
    // differ, so the SKETCH VALUE can't be oracled; the bounded-error
    // VERDICT can (r8): the query computes the estimate AND the exact
    // median (over integer cents — interpolation midpoints are .0/.5,
    // exact in any IEEE engine) and emits |est − exact| ≤ 1% as a
    // boolean the DuckDB oracle reproduces with TRUE + its own exact
    // median. A sketch regression now fails the hash gate, not just a
    // spec. (GK at accuracy 10000 bounds RANK error to n/10000; on this
    // price distribution that is far inside 1% of value.)
    "q_approx_quantile" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .agg(
          // accuracy 2000 bounds rank error at 0.05% — 20× inside the
          // 1% verdict bound below; the r8-initial 10000 spent ~1 s of
          // summary compress/merge CPU buying precision the verdict
          // can't observe
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(2000)).as("approx"),
          // exact median via the library's spill-aware percentile (the
          // built-in `percentile` keeps a per-group OpenHashMap of
          // counts — ~1.5 s of hash upkeep here and an unspillable
          // buffer at scale; the sorted-run buffer streams instead).
          // Integer cents ⇒ the lerp midpoint is .0/.5, IEEE-exact on
          // both engines
          element_at(graft.functions.SpillablePercentile.agg(
            round(col("l_extendedprice") * 100).cast("long"), Seq(0.5)), 1)
            .as("median_cents"),
          count(lit(1)).as("n"))
        .select(col("n"), col("median_cents"),
          (abs(col("approx") * 100 - col("median_cents"))
            <= col("median_cents") * 0.01).as("within_bound"))
    }),

    // E13/E14: event-time tumbling windows (same transform as streaming)
    "q_event_windows" -> ((s, dir) =>
      EventStream.windowedAgg(Tables.events(s, dir), "1 hour")),

    // E81: sliding (hopping) windows — 1h length / 30min slide, every
    // event in exactly 2 windows; overlap costs map-side expansion only,
    // the exchange still carries (window, type) partials
    "q_event_sliding" -> ((s, dir) =>
      EventStream.slidingWindowAgg(Tables.events(s, dir), "1 hour", "30 minutes")),

    // E82: edit-distance fuzzy self-join via deletion-neighborhood
    // (FastSS) blocking + exact levenshtein verify — entity resolution
    // over supplier names without the O(n²) crossJoin the oracle runs
    "q_fuzzy_join" -> ((s, dir) =>
      FuzzyJoin.nearKeyPairs(Tables.supplier(s, dir), "s_name", "s_suppkey")
        .select(col("id_a"), col("id_b"), col("dist"))),

    // E15: the training-data pipeline END TO END — enrich (lang-id,
    // quality, tokens) → filter → near-dup dedup with closure → corpus
    // stats per source. One oracle covers the composed whole.
    "q_corpus_pipeline" -> ((s, dir) => {
      // The regex-heavy enrichment runs in ONE pass — and since r16,
      // ONCE PER SESSION: q_provenance runs the identical
      // enrich+filter, so the staged frame moved from the per-query
      // Staging layer into the session-shared PairFunnel (the same
      // 100 TB staging-table move, now shared by both consumers; with
      // a funnelDir it IS a staging table). (spread first: the three
      // regex kernels otherwise run in the one-task scan of a
      // single-row-group file.) (A "skinny staging" variant — stage
      // only the numeric columns, re-derive the filter in the dedup
      // scan — was measured at +2 s: the two extra regex-kernel corpus
      // passes cost more than serializing the staged text column.)
      val enriched = enrichedCorpus(s, dir)
      // r16: route the closure through PairFunnel (keyed by the
      // FILTERED corpus plan) — q_provenance runs the identical
      // enrich+filter, so the two queries share ONE banding+verify+
      // closure build per session instead of each paying it (guide
      // §2.4: don't recompute what an earlier identical stage built;
      // same sharing discipline as the 8 raw-corpus funnel consumers).
      val losers = graft.ops.PairFunnel.componentLabels(
          enriched.select(col("doc_id"), col("text")), "text", "doc_id", dir)
        .filter(col("root") =!= col("id"))
        .select(col("id").as("doc_id"))
      enriched.join(losers, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          (sum(round(col("quality") * 10000).cast("long")).cast("double")
            / 10000.0 / count(lit(1))).as("mean_quality"))
    }),

    // E20: fixed-window chunking with overlap — the packing primitive
    // for context-length-bounded training data
    "q_chunk_docs" -> ((s, dir) =>
      graft.ops.Chunking.chunkFixed(
          Tables.documents(s, dir), "text", "doc_id", size = 120, overlap = 20)
        .select(col("doc_id"), col("start"),
          length(col("chunk")).cast("long").as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))),

    // E142: CHUNK-level exact dedup — duplicated chunks across the
    // corpus (same md5 at any (doc, offset)), with the deterministic
    // keeper (lexicographic min (doc_id, start) via one min(struct)
    // partial agg, no window). The sequence-level dedup a trainer runs
    // AFTER chunking and BEFORE packing: document-level dedup misses
    // repeated blocks inside distinct documents, and training on the
    // same chunk twice is the thing being prevented. Shuffles
    // (hash, ids) only — chunk text never leaves the map side.
    "q_chunk_dedup" -> ((s, dir) =>
      graft.ops.Chunking.chunkFixed(
          Tables.documents(s, dir), "text", "doc_id", size = 120, overlap = 20)
        .select(col("doc_id"), col("start"), md5(col("chunk")).as("h"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n_copies"),
          count_distinct(col("doc_id")).as("n_docs"),
          min(struct(col("doc_id"), col("start"))).as("k"))
        .filter(col("n_copies") > 1)
        .select(col("h").as("chunk_md5"), col("n_copies"), col("n_docs"),
          col("k.doc_id").as("keep_doc_id"),
          col("k.start").cast("long").as("keep_start"))),

    // E65: sequence packing — chunks filled into 128-token packs per
    // source shard by running token total (the window-parallel packing
    // policy; see Chunking.packByBudget). Output is the per-pack
    // manifest a trainer consumes.
    "q_pack_chunks" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val chunks = graft.ops.Chunking.chunkFixed(docs, "text", "doc_id",
          size = 120, overlap = 20)
        .join(broadcast(docs.select(col("doc_id"), col("source"))), "doc_id")
        .withColumn("n_tok", TextAnalysis.tokenCountWs(col("chunk")).cast("long"))
      graft.ops.Chunking.packByBudget(chunks, "source",
          Seq("doc_id", "start"), "n_tok", budget = 128L)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("n_tokens"))
    }),

    // E77: GLOBAL-order packing — one total order across every shard
    // (packs span sources; n_sources > 1 in the output proves it),
    // decomposed into per-bucket windows + a tiny bucket-offset prefix
    // so no row-level single-partition window ever forms. Bucket COUNT
    // is fixed at 4×shuffle-parallelism via monotoneIdBuckets (a
    // constant width like id/50 would grow the bucket-offset window
    // linearly with the corpus). The oracle is the non-scalable
    // formulation: one global window in DuckDB.
    "q_pack_global" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val chunks = graft.ops.Chunking.chunkFixed(docs, "text", "doc_id",
          size = 120, overlap = 20)
        .join(broadcast(docs.select(col("doc_id"), col("source"))), "doc_id")
        .withColumn("n_tok", TextAnalysis.tokenCountWs(col("chunk")).cast("long"))
      val nBuckets = 4 * s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      graft.ops.Chunking.packByBudgetGlobal(chunks,
          graft.ops.Chunking.monotoneIdBuckets(docs, "doc_id", nBuckets),
          Seq("doc_id", "start"), "n_tok", budget = 128L)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("n_tokens"),
          count_distinct(col("source")).as("n_sources"))
    }),

    // E66: per-domain caps (domain mixing) — each source keeps at most
    // N docs, selected by CONTENT-HASH order: deterministic across
    // runs/partitionings AND growth-stable (a kept doc stays kept when
    // new docs arrive unless they hash lower — no reshuffling the whole
    // mix on every crawl like row-number-by-arrival would).
    "q_domain_cap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("h").asc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 15)
        .select(col("source"), col("rn").cast("long").as("rn"), col("doc_id"))
    }),

    // E67: mixture upsampling — the other half of domain mixing: each
    // source's docs replicated per an integer weight (src id mod 3 + 1
    // here), with a copy index for downstream shuffling. explode of a
    // sequence — rows scale by the weight, no shuffle at all.
    "q_mix_upsample" -> ((s, dir) => {
      // non-numeric source suffixes (adversarial corpus) weight 1:
      // under ANSI mode a plain cast THROWS on 'ersarial' (and DuckDB's
      // CAST errors) — both sides agree on coalesce(try_cast, 1)
      val weight = coalesce(
        expr("try_cast(substring(source, 4, 10) AS INT)") % 3 + 1,
        lit(1)).cast("int")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), weight.as("w"))
        .withColumn("copy_idx", explode(sequence(lit(1), col("w"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("doc_id")).as("n_docs"),
          max(col("w")).cast("long").as("weight"))
    }),

    // E68: order-invariant table checksum — dataset equality in O(1)
    // output: per-row md5 over a canonical projection, the first 8 hex
    // chars as a long, SUMMED (commutative ⇒ partition/order invariant;
    // 2^32 terms × row counts stay far from long overflow). The tool
    // for verifying a migration/replication copy without sorting
    // either side.
    "q_table_checksum" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(conv(substring(md5(concat_ws("|",
            col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long"))), 1, 8), 16, 10)
          .cast("long").as("h"))
        .agg(sum(col("h")).as("checksum"), count(lit(1)).as("n_rows"))),

    // E21: PII redaction. The synthetic corpus contains no emails or
    // digit runs, so deterministic PII is injected in-query (same
    // derivation in the oracle) — the redaction path actually redacts.
    "q_redact_pii" -> ((s, dir) => {
      val withPii = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".com ref "),
          (col("doc_id") * 1000003L).cast("string")).as("t"))
      withPii.select(col("doc_id"),
        graft.ops.Chunking.emailCount(col("t")).cast("long").as("n_emails"),
        graft.ops.Chunking.longNumberCount(col("t")).cast("long").as("n_longnums"),
        md5(graft.ops.Chunking.redactPii(col("t"))).as("red_md5"))
    }),

    // E22: deterministic content-hash train/val/test split
    "q_split_assign" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(graft.ops.Chunking.splitAssign(col("text")).as("split"))
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))),

    // R29: FULL OUTER join with unmatched rows on both sides
    "q_outer_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_custkey") < 500).select(col("c_custkey"), col("c_name"))
      val o = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === P0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    }),

    // R30: cumulative windows — running sum + cume_dist/percent_rank
    "q_cumulative" -> ((s, dir) => {
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
    }),

    // E23: corpus token frequency — explode + count + deterministic
    // top-k, the vocabulary-building primitive
    "q_top_ngrams" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)),

    // E109: Gopher-style repetition filters — the pretraining quality
    // gate the length/stopword score (q_text_quality) can't express:
    // docs dominated by a few repeated words (boilerplate, keyword
    // stuffing, degenerate generations). distinct-word ratio and
    // top-word share from ONE explode + two-level agg; the pass
    // verdict composes both thresholds. All counts exact integers;
    // the two ratios are single double divisions (order-independent).
    "q_gopher_repetition" -> ((s, dir) => {
      val perWord = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      perWord.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_words"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_count"))
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          round(col("n_distinct").cast("double") / col("n_words"), 6)
            .as("distinct_ratio"),
          round(col("top_count").cast("double") / col("n_words"), 6)
            .as("top_word_share"),
          (col("n_distinct").cast("double") / col("n_words") >= 0.3 &&
            col("top_count").cast("double") / col("n_words") <= 0.2)
            .as("gopher_pass"))
    }),

    // E110: cross-document boilerplate mining — the C4 "duplicated
    // lines across the corpus" rule, at word-window granularity (this
    // corpus has no newlines): every 8-word window shared by ≥ 2 docs,
    // with doc- and occurrence-counts. Windows are enumerated per ROW
    // with array ops (sequence → slice → join) — no exploded-word
    // shuffle, no window function; the only exchange is the groupBy on
    // the window string. At 100 TB the same shape runs with the hash
    // of the window as the group key (8 bytes, not ~50 chars) + a
    // second pass for the strings of the survivors — kept as strings
    // here so the oracle can compare content directly.
    "q_boilerplate_ngrams" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(
          when(size(col("ws")) >= 8,
            transform(sequence(lit(1), size(col("ws")) - 7),
              i => array_join(slice(col("ws"), i, lit(8)), " ")))
            .otherwise(array().cast("array<string>"))).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2)),

    // E111: temperature-scaled mixture weights — the multi-source
    // sampling policy of multilingual/multi-domain pretraining
    // (α = 0.5: p_i ∝ tokens_i^α flattens the source distribution so
    // small sources aren't drowned). Token masses are exact longs;
    // √ is per-value deterministic; the only cross-source float sum
    // (the denominator) is an ORDERED fold over the sorted source
    // list — bit-identical on both engines; sources are few, so the
    // collected list is O(sources), never O(rows).
    "q_mix_temperature" -> ((s, dir) => {
      // O(sources) rows, but two consumers (denominator + final select)
      // each re-ran the corpus scan + token-count kernel when unstaged
      // (4 parquet scans in the r17 before-plan). Staged = one corpus
      // pass. Exact long sums — values unchanged.
      val bySource = graft.ops.Staging.stage(Tables.documents(s, dir)
        .select(col("source"), TextAnalysis.tokenCountWs(col("text"))
          .cast("long").as("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("tokens")))
      val denom = bySource
        .agg(sort_array(collect_list(struct(col("source"),
            sqrt(col("tokens").cast("double")).as("w")))).as("a"),
          sum(col("tokens")).as("tot"))
        .select(aggregate(col("a"), lit(0.0), (acc, x) => acc + x("w"))
          .as("denom"), col("tot"))
      bySource.crossJoin(broadcast(denom))
        .select(col("source"), col("n_docs"), col("tokens"),
          round(sqrt(col("tokens").cast("double")) / col("denom"), 6)
            .as("weight"),
          round(col("tokens").cast("double") / col("tot"), 6)
            .as("natural_share"),
          round(sqrt(col("tokens").cast("double")) / col("denom") /
            (col("tokens").cast("double") / col("tot")), 6).as("boost"))
    }),

    // E112: EWMA control chart over daily event volumes — drift/burst
    // detection for a streaming ingest. Dyadic weights 2^-lag over a
    // bounded 7-day lookback make every term and the sum EXACT in
    // double (numerators far below 2^53) — partition-order independent
    // without an ordered fold. The bounded self-join is |days|×8 rows,
    // never events×events.
    "q_ewma_volume" -> ((s, dir) => {
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
    }),

    // E157: PSI distribution drift — is the current window's value
    // distribution still the reference window's? The train-on-new-
    // crawl gate E112's per-series burst chart can't express: one
    // scalar verdict over the WHOLE distribution shape (classical
    // thresholds 0.1/0.2), decomposed per bin so the shifted bins are
    // visible. One events pass into ≤10 groups, then all arithmetic on
    // the fixed 10-row frame (Drift scaladoc has the exactness story).
    "q_drift_psi" -> ((s, dir) =>
      graft.ops.Drift.psiDrift(
        Tables.events(s, dir), "value",
        col("ts") < lit("2024-01-16").cast("timestamp"))
        .orderBy(col("bin"))),

    // E114: linear interpolation over a daily spine — the time-series
    // resampling step gap-fill's carry-forward (q_gap_fill) can't
    // express: missing days get v_prev + (v_next − v_prev)·(Δ/span),
    // boundaries back/forward-fill. The interpolation is EXACT integer
    // arithmetic (milli-unit longs, both engines truncate integral
    // division toward zero) — no float accumulation, no rounding ties.
    // Two windows over the same (user, day) sort — Catalyst reuses the
    // exchange+sort (the one-Exchange window discipline of PlanAudit).
    "q_interpolate" -> ((s, dir) => {
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
    }),

    // E115: k-anonymity audit — privacy pre-flight before a table
    // leaves the curated zone: every quasi-identifier combination
    // (nation × segment × balance band) with its population, k-anonymous
    // verdict, and re-identification risk 1/n. One scan + one agg; the
    // risk column is a single exact division.
    "q_k_anonymity" -> ((s, dir) => {
      val k = 10L
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_mktsegment"),
          expr("cast(floor(c_acctbal / 2000) as long)").as("bal_band"))
        .groupBy(col("n_name"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("n"))
        .select(col("n_name"), col("c_mktsegment"), col("bal_band"), col("n"),
          (col("n") >= k).as("k_anonymous"),
          // risk as exact ppm (floored integer div): 1/n round()s to a
          // decimal tie whenever n is a power of two >= 128
          expr("1000000 div n").as("reident_risk_ppm"))
    }),

    // E116: BPE merge-pair counting — the inner loop of byte-pair/
    // word-piece vocabulary induction: adjacent-token pair frequencies
    // over the corpus (the argmax pair is the next merge). Pairs are
    // enumerated per row with array ops (no exploded-word shuffle, no
    // window function) — the q_boilerplate_ngrams discipline; the only
    // exchange is the partial-aggregated groupBy on the pair itself.
    "q_bpe_pairs" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(split(col("text"), " ").as("ws"))
        .select(explode(
          when(size(col("ws")) >= 2,
            transform(sequence(lit(1), size(col("ws")) - 1),
              i => array_join(slice(col("ws"), i, lit(2)), " ")))
            .otherwise(array().cast("array<string>"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(30)),

    // E160: the BPE merge LOOP — E116 scores one round; this runs the
    // actual vocabulary-induction iteration 3 unrolled rounds (the E80
    // pagerank pattern): count adjacent pairs → argmax (ties by pair
    // asc — deterministic) → merge every occurrence greedily
    // left-to-right (standard BPE; runs of identical tokens merge
    // non-overlapping from the left) → re-pair the merged stream and
    // repeat. The merge itself is row-local array math (no exploded-
    // token shuffle, no window over the corpus token stream); the
    // argmax pair rides in as a 1-row broadcast, so each round's only
    // exchange is the vocabulary-sized pair count. The DuckDB oracle
    // replays the greedy-overlap semantics relationally (gaps-and-
    // islands parity over match positions — selected ⇔ even offset
    // within its consecutive-match island, provably ≡ the left-to-right
    // fold).
    //
    // r16 perf (guide §1.2/§2): the original shape benched 10.6 s,
    // ~85 % of it three SINGLE-TASK stages (sf0.1 documents is one
    // parquet split, so every merge round serialized on one core) each
    // re-running an O(tokens²) fold (the accumulator array was copied
    // per appended token) — and round 3 recomputed round 1's merge
    // because nothing was staged. Three fixes, result-identical:
    // (a) spread the token stream across the session's cores once
    //     (roundRobinSpread — a no-op on a multi-split 100 TB table)
    //     with only the text column in the exchange;
    // (b) the greedy merge is now linear: match positions → selected
    //     starts (a fold over the handful of MATCHES, not every token:
    //     a match is merged iff it is not immediately consumed by the
    //     previous selected match — the same left-to-right semantics) →
    //     one flatten/transform reconstruction;
    // (c) each round's token stream is staged DISK_ONLY (Staging
    //     scaladoc), so round N never re-runs round N−1's merge.
    "q_bpe_merges" -> ((s, dir) => {
      def pairCounts(docs: DataFrame): DataFrame = docs
        .select(explode(when(size(col("ws")) >= 2,
            transform(sequence(lit(1), size(col("ws")) - 1),
              i => struct(element_at(col("ws"), i).as("a"),
                element_at(col("ws"), i + 1).as("b"))))
          .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n"))
      def best(pc: DataFrame): DataFrame =
        pc.orderBy(col("n").desc, col("a").asc, col("b").asc).limit(1)
      def merged(docs: DataFrame, bp: DataFrame): DataFrame = docs
        .crossJoin(broadcast(bp.select(col("a").as("ma"), col("b").as("mb"))))
        // selected merge starts: positions p with ws[p]=ma, ws[p+1]=mb,
        // taken left-to-right unless consumed by the previous selected
        // start (p = last+1). Fold runs over match positions only.
        .withColumn("starts", expr(
          """aggregate(
            |  case when size(ws) >= 2
            |    then filter(sequence(1, size(ws) - 1),
            |           i -> element_at(ws, i) = ma
            |                and element_at(ws, i + 1) = mb)
            |    else cast(array() as array<int>) end,
            |  struct(cast(array() as array<int>) as sel, -2 as last),
            |  (acc, p) -> case when p > acc.last + 1
            |    then struct(concat(acc.sel, array(p)) as sel, p as last)
            |    else acc end,
            |  acc -> acc.sel)""".stripMargin))
        .select(expr(
          """case when size(starts) = 0 then ws else
            |  flatten(transform(sequence(1, size(ws)), i -> case
            |    when array_contains(starts, i)
            |      then array(concat(element_at(ws, i), ' ',
            |                        element_at(ws, i + 1)))
            |    when array_contains(starts, i - 1)
            |      then cast(array() as array<string>)
            |    else array(element_at(ws, i)) end))
            |end""".stripMargin).as("ws"))
      val t1 = graft.ops.Staging.stage(
        Tables.roundRobinSpread(Tables.documents(s, dir).select(col("text")))
          .select(split(col("text"), " ").as("ws")))
      val b1 = best(pairCounts(t1))
      val t2 = graft.ops.Staging.stage(merged(t1, b1))
      val b2 = best(pairCounts(t2))
      val t3 = merged(t2, b2)
      val b3 = best(pairCounts(t3))
      def lab(b: DataFrame, r: Int) = b.select(lit(r).as("merge_round"),
        concat(col("a"), lit(" + "), col("b")).as("pair"), col("n"))
      lab(b1, 1).unionAll(lab(b2, 2)).unionAll(lab(b3, 3))
        .orderBy(col("merge_round"))
    }),

    // E158: word2phrase collocation mining — which adjacent pairs are
    // PHRASES (co-occur above independence after the rare-pair
    // discount), the step that merges multi-word expressions before
    // tokenizer induction. E116 counts the pairs; this scores them:
    // discounted lift (c_ab−δ)·N/(c_a·c_b) with the verdict compare
    // in decimal(38,0) so it stays exact where long·long overflows
    // (Phrases scaladoc has the plan shape: staged vocabulary-sized
    // unigram counts, row-local bigram enumeration).
    "q_collocations" -> ((s, dir) =>
      graft.ops.Phrases.collocations(Tables.documents(s, dir), "text")),

    // E121: LM-based quality scoring (the CCNet/KenLM filter shape):
    // add-one-smoothed bigram LM trained ON the corpus, each doc scored
    // by its mean negative log-likelihood (cross-entropy) — low = fluent
    // in-distribution text, high = junk/outlier. All probabilities are
    // ratios of exact integer counts; per-doc log-sums fold in POSITION
    // order (sort_array + aggregate — the ordered-fold float discipline
    // of q_source_entropy), so the score is bit-stable across
    // partitionings. The bigram table is vocab²-bounded (never corpus-
    // sized); at 100 TB it shuffle-joins on the pair key, here AQE
    // broadcasts it.
    "q_lm_quality" -> ((s, dir) => {
      val bigrams = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(
          expr("transform(sequence(1, size(ws) - 1)," +
            " i -> struct(i as pos, element_at(ws, i) as w1, element_at(ws, i + 1) as w2))"))
          .as("b"))
        .select(col("doc_id"), col("b.pos").as("pos"),
          col("b.w1").as("w1"), col("b.w2").as("w2"))
      // NOT checkpointed (r17, measured and rejected — reconfirming the
      // r16 rejection at scale): checkpointing the pair table and
      // deriving contexts from it (c1 = Σ_w2 c12, one bigram pass fewer)
      // measured 22.4 s vs 17.8 s at the 500k-doc probe and 2.49 vs
      // 2.44 at sf0.1 — the bigram explode collapses map-side and is
      // cheaper to re-run than the checkpoint round-trip.
      val contexts = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val pairs = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val vocab = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(count_distinct(col("w")).as("v"))
      bigrams
        .join(pairs, Seq("w1", "w2"))
        .join(contexts, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .withColumn("logp",
          log((col("c12") + 1).cast("double") / (col("c1") + col("v")).cast("double")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sort_array(collect_list(struct(col("pos"), col("logp")))).as("a"))
        .select(col("doc_id"), col("n_bigrams"),
          round(-aggregate(col("a"), lit(0.0), (acc, x) => acc + x("logp"))
            / col("n_bigrams"), 6).as("cross_entropy"))
    }),

    // E126: per-document curation lineage — row-level explainability
    // for the filter funnel ("why was my document dropped?"): every doc
    // carries a flag per gate (language, quality, repetition,
    // exact-dup loser) plus the final keep verdict. Aggregate funnels
    // (q_corpus_pipeline, q_dq_quarantine) tell you HOW MANY fell;
    // this tells you WHICH and WHY — the audit trail data-governance
    // asks for. Composes four existing kernels in one pass each.
    "q_curation_lineage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val rep = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("nw"), count(lit(1)).as("nd"), max(col("c")).as("tc"))
      // r17, examined and left in this form after two measured
      // alternatives lost: (a) keeper as a partition-only window min is
      // a plan NO-OP — Spark 4's optimizer rewrites it back into this
      // very agg + join (byte-identical plan dumps); (b) staging the
      // enriched frame so md5 runs once measured ~1.4x SLOWER at the
      // 500k-doc probe (17.9 vs 13.1 s interleaved) — the pruned
      // md5-only second scan is cheaper than the staging round-trip.
      val keepers = docs.select(col("doc_id"), md5(col("text")).as("fp"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
      docs
        .select(col("doc_id"), md5(col("text")).as("fp"),
          TextAnalysis.langIdHeuristic(col("text")).as("lang_guess"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .join(rep, Seq("doc_id"))
        .join(keepers, Seq("fp"))
        .select(col("doc_id"),
          (col("lang_guess") =!= "en").as("lang_fail"),
          (col("quality") < 0.45).as("quality_fail"),
          (col("nd").cast("double") / col("nw") < 0.3 ||
            col("tc").cast("double") / col("nw") > 0.2).as("repetition_fail"),
          (col("doc_id") =!= col("keeper")).as("dup_loser"))
        .withColumn("kept",
          !col("lang_fail") && !col("quality_fail") &&
            !col("repetition_fail") && !col("dup_loser"))
    }),

    // E127: end-to-end curation PROVENANCE — one record per SURVIVING
    // document of the corpus pipeline carrying where it came from and
    // what the pipeline did to it: origin source, the near-dup family
    // it represents (keep-first ⇒ root id is its own id; family size
    // and an id checksum over every absorbed member), and the
    // transform chain rendered as a string. This is the lineage a
    // 100 TB curation run must emit so any training example traces
    // back to raw data; the whole record is one aggregate over the
    // closure labels joined back to the staged enrichment — no extra
    // corpus scans beyond q_corpus_pipeline's own. Oracle replays the
    // pipeline with string shingles + a recursive closure and
    // re-renders the chain from the same fields.
    "q_provenance" -> ((s, dir) => {
      // session-shared enriched corpus (r16): identical to
      // q_corpus_pipeline's enrich+filter — built once, shared
      val enriched = enrichedCorpus(s, dir)
      // r16: same PairFunnel routing as q_corpus_pipeline — the two
      // queries enrich+filter identically, so the funnel (and its
      // closure) is built once per session and shared.
      val labels = graft.ops.PairFunnel.componentLabels(
        enriched.select(col("doc_id"), col("text")), "text", "doc_id", dir)
      val withRoot = enriched
        .join(labels.select(col("id").as("doc_id"), col("root")),
          Seq("doc_id"), "left")
        .withColumn("root", coalesce(col("root"), col("doc_id")))
      val fams = withRoot.groupBy(col("root"))
        .agg(count(lit(1)).as("n_family"), sum(col("doc_id")).as("family_id_sum"))
      withRoot.filter(col("doc_id") === col("root"))
        .join(fams, "root")
        .withColumn("quality_milli", round(col("quality") * 10000).cast("long"))
        .select(col("doc_id"), col("source"), col("quality_milli"),
          col("n_tokens"), col("n_family"), col("family_id_sum"),
          concat(lit("ingest:"), col("source"),
            lit(">lang:en>quality:"), col("quality_milli").cast("string"),
            lit(">dedup:family="), col("n_family").cast("string"))
            .as("transform_chain"))
    }),

    // E130: payment-PII audit — Luhn-checked card-number detection per
    // source: candidate 13-19-digit runs via regex, VALID cards via the
    // codegen'd luhn_card_count kernel (ISO/IEC 7812 mod-10 — public
    // algorithm). The synthetic corpus carries no digit runs, so known
    // valid/invalid/too-short numbers are planted in-query keyed on
    // doc_id (the q_embed_neardup precedent) — the detector is
    // exercised on a mix where candidates ≠ valid.
    "q_pii_luhn" -> ((s, dir) => {
      val planted = Tables.roundRobinSpread(Tables.documents(s, dir))
        .withColumn("t2", concat(col("text"),
          when(col("doc_id") % 7 === 1, lit(" card 4532015112830366"))
            .when(col("doc_id") % 7 === 2, lit(" card 4532015112830367"))
            .when(col("doc_id") % 7 === 3,
              lit(" card 30569309025904 and 6011111111111117"))
            .when(col("doc_id") % 7 === 4, lit(" ref 123456789012"))
            .otherwise(lit(""))))
      planted.select(col("source"),
          graft.functions.exprs.luhn_card_count(col("t2")).as("nv"),
          size(filter(regexp_extract_all(col("t2"), lit("[0-9]+"), lit(0)),
            r => length(r) >= 13 && length(r) <= 19)).as("nc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nc").cast("long")).as("card_candidates"),
          sum(col("nv").cast("long")).as("cards_valid"),
          sum(when(col("nv") > 0, 1L).otherwise(0L)).as("docs_with_card"))
    }),

    // E129: quality-threshold calibration — keep count and keep rate
    // per source across a grid of candidate quality cutoffs, in ONE
    // conditional-agg pass over the corpus (no per-threshold scans) +
    // a stack() unpivot of the grid. The sweep a pipeline owner runs
    // BEFORE committing to a filter threshold: which cutoff keeps how
    // much of which source. Keep rate in integer basis points
    // ((k·10000) div n) — exact in both engines, no float-rounding-tie
    // exposure (the q_padding_waste discipline).
    "q_quality_calibration" -> ((s, dir) => {
      val ts = Seq(3000L, 4000L, 5000L, 6000L, 7000L)
      val aggs = count(lit(1)).as("n_docs") +:
        ts.map(t => sum(when(col("qm") >= t, 1L).otherwise(0L)).as(s"k_$t"))
      val stacked = ts.map(t => s"${t}L, k_$t").mkString(", ")
      Tables.roundRobinSpread(Tables.documents(s, dir))
        .select(col("source"),
          round(TextAnalysis.qualityScore(col("text")) * 10000).cast("long").as("qm"))
        .groupBy(col("source"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("source"), col("n_docs"),
          expr(s"stack(${ts.length}, $stacked) as (threshold_milli, n_kept)"))
        .select(col("source"), col("threshold_milli"), col("n_docs"),
          col("n_kept"),
          expr("(n_kept * 10000) div n_docs").as("keep_bp"))
    }),

    // E113: padding-waste audit — what fixed-length batching costs per
    // source at seq-len 64/128: sequences, wasted pad tokens, waste
    // fraction. Pure integer arithmetic end to end (ceil-div as
    // (t + L − 1) div L); the informed input to choosing a packing
    // strategy (q_pack_chunks / q_pack_global are the remedy).
    "q_padding_waste" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("t"))
        .select(col("source"), col("t"),
          // ceil-div in exact integer arithmetic (div = floored long
          // division on both engines; Spark's / on longs is double)
          expr("(t + 63) div 64").as("s64"),
          expr("(t + 127) div 128").as("s128"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("t")).as("tokens"),
          sum(col("s64")).as("seqs_64"),
          sum(col("s64") * 64L - col("t")).as("waste_64"),
          sum(col("s128")).as("seqs_128"),
          sum(col("s128") * 128L - col("t")).as("waste_128"))
        .select(col("source"), col("n_docs"), col("tokens"),
          col("seqs_64"), col("waste_64"),
          // basis points via FLOORED integer division: waste/(seqs·L)
          // is a dyadic rational that lands exactly on decimal ties
          // (e.g. 1647/3200 = 0.5146875), where HALF_UP (Spark) and
          // half-even (DuckDB) round() disagree — integer div never ties
          expr("(waste_64 * 10000) div (seqs_64 * 64)").as("waste_bp_64"),
          col("seqs_128"), col("waste_128"),
          expr("(waste_128 * 10000) div (seqs_128 * 128)").as("waste_bp_128"))),

    // E29: data-quality profiling — per-column row/null/distinct/range
    // stats, the pre-flight check before any 100 TB ingest. ONE scan of
    // the fact table no matter how many columns are profiled (asserted
    // in PlanAuditSpec), and — just as important — HASH aggregation in
    // the heavy stage. The naive single-pass (one agg with N
    // count_distincts + string min/max) is a trap: Catalyst's
    // multi-DISTINCT Expand is fine, but a min(string) buffer is not
    // hash-able, so the whole rows×N expanded stream falls into Sort +
    // SortAggregate — measured 4-5x SLOWER than even the r2 N-scan
    // shape at sf0.1. Instead: explode to (column, value) long form,
    // hash-dedup (column, value) with counts (the only big stage —
    // pure HashAggregate), then compute every stat on the DISTINCT
    // values (n_distinct = count, nulls/rows from the counts, numeric
    // min/max from a double slot, string min/max sort-aggregated over
    // distinct values only — the set any exact min/max must visit).
    "q_profile" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val numericCols = Seq("l_quantity", "l_discount")
      val stringCols = Seq("l_returnflag")
      val kv = li.select(explode(array(
        numericCols.map { c =>
          struct(lit(c).as("c"), col(c).cast("string").as("v"),
            col(c).as("vn"))
        } ++ stringCols.map { c =>
          struct(lit(c).as("c"), col(c).as("v"),
            lit(null).cast("double").as("vn"))
        }: _*)).as("kv"))
        .select(col("kv.c"), col("kv.v"), col("kv.vn"))
      val distinctCounts = kv.groupBy("c", "v")
        .agg(count(lit(1)).as("cnt"), first(col("vn")).as("vn"))
      distinctCounts.groupBy("c")
        .agg(
          sum(col("cnt")).as("n_rows"),
          sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
          count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
          min(col("vn")).cast("string").as("min_n"),
          max(col("vn")).cast("string").as("max_n"),
          min(col("v")).as("min_s"),
          max(col("v")).as("max_s"))
        .select(col("n_rows"), col("n_nulls"), col("n_distinct"),
          coalesce(col("min_n"), col("min_s")).as("min_str"),
          coalesce(col("max_n"), col("max_s")).as("max_str"),
          col("c").as("column_name"))
    }),

    // E16: sketch cardinality (HyperLogLog++) — approximate distincts
    // for pipeline telemetry; cross-engine sketches differ, so the
    // ESTIMATE can't be oracled, but the bounded-error VERDICT can
    // (r8): the query computes the HLL estimate AND the exact distinct
    // and emits |est − exact| ≤ 5% (2.5σ at rsd = 0.02; HLL++ is
    // deterministic for fixed data — hash-based, partition-order
    // independent) as a boolean the DuckDB oracle reproduces with TRUE
    // + its own exact distinct. A sketch regression now fails the hash
    // gate, not just the TextAnalysisSpec error check.
    "q_approx_distinct" -> ((s, dir) =>
      Tables.orders(s, dir)
        .agg(
          approx_count_distinct(col("o_custkey"), rsd = 0.02).as("est"),
          countDistinct(col("o_custkey")).as("exact_customers"),
          count(lit(1)).as("n_orders"))
        .select(col("n_orders"), col("exact_customers"),
          (abs(col("est") - col("exact_customers"))
            <= col("exact_customers") * 0.05).as("within_bound"))),

    // E88: gaps-and-islands interval merge — each event opens a
    // VARIABLE-LENGTH busy interval ([ts, ts + value minutes)); merge
    // overlaps per user into maximal islands. Running-max-of-end
    // formulation (not lag) so nested intervals merge correctly; all
    // integer micros ⇒ hash-exact. One shuffle, no self-join.
    "q_interval_merge" -> ((s, dir) => {
      val iv = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts"))
            + round(col("value") * 60).cast("long") * 1000000L).as("end_us"))
      graft.ops.Intervals
        .mergeIntervals(iv, "user_id", "start_us", "end_us", col("event_id"))
        .select(col("user_id"), col("island"), col("island_start"),
          col("island_end"), col("n_intervals"))
    }),

    // E89: robust outliers via median absolute deviation — the
    // median/MAD cut survives the heavy tails that wreck z-scores
    // (q_outliers' mean/σ are dragged by the very outliers they hunt).
    // percentile() interpolation over exact integer cents yields only
    // .0/.5/.25 fractions — exactly representable doubles, so med, MAD
    // and the 3·MAD cut are bit-identical across engines. Two grouped
    // aggs + one broadcast join back; never a global sort.
    // Rewritten on RobustStats: the r4 shape used Spark's exact
    // `percentile` (collects every group's values into one reducer
    // buffer — OOM at 100 TB) and scanned lineitem three times. The
    // SpillablePercentile form keeps the built-in's exactness and plan
    // shape with a disk-spilling buffer, and is two-scan: medians from
    // one aggregate pass, MAD AND the outlier count both read the same
    // checkpointed deviation frame.
    "q_mad_outliers" -> ((s, dir) =>
      graft.ops.RobustStats.madOutliersByGroup(
          Tables.lineitem(s, dir)
            .select(col("l_returnflag").as("flag"),
              round(col("l_extendedprice") * 100).cast("long").as("pc")),
          "flag", "pc")
        .select(col("flag"), col("n"), col("n_outliers"),
          col("med").as("med_cents"), col("mad").as("mad_cents"))),

    // E90: BM25 relevance scoring — the retrieval-grade upgrade of
    // q_tfidf: saturating tf (k1), doc-length normalization (b, dl /
    // avgdl), RSJ idf. avgdl is a double division of two exact longs
    // (bit-identical); ln() rounded to 6 dp per the repo's round()
    // rule; ranking uses the ROUNDED score + term tiebreak so both
    // engines select identical rows. Same scale shape as tfidf: two
    // grouped counts + a broadcast of the 1-row corpus stats.
    "q_bm25" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k1 = 1.2; val b = 0.75
      val docs = Tables.documents(s, dir)
      val tokens = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      // NOT staged (r17, measured and rejected): deriving dl/df/corpus
      // from a disk-staged tf frame (one tokenize pass instead of four)
      // measured SLOWER at sf0.1 (3.11 vs 2.76 bench-cold) AND at the
      // 500k-doc probe (11.1 vs 8.8 s) — each re-tokenize is map-side
      // compute whose aggregates collapse map-side, while the staged tf
      // frame pays a doc×term disk write + read ×3. The repeated explode
      // is the measured-fastest form here.
      val dl = tokens.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val tf = tokens.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tokens.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("bm25").desc, col("term").asc)
      tf.join(df, "term").join(dl, "doc_id")
        .crossJoin(broadcast(corpus))
        .withColumn("avgdl",
          col("tot_dl").cast("double") / col("n_docs").cast("double"))
        .withColumn("idf",
          log((col("n_docs").cast("double") - col("df") + 0.5)
            / (col("df").cast("double") + 0.5) + 1.0))
        .withColumn("bm25",
          round(col("idf") * (col("tf") * (k1 + 1.0))
            / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
        .filter(col("doc_id") < 20)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("term"), col("bm25"))
    }),

    // E91: deterministic weighted sampling — systematic selection by
    // cumulative weight (every STEP-th character of corpus mass keeps
    // one document). Integer cumsum per source partition ⇒ exact,
    // reproducible, and growth-stable: appending documents with higher
    // ids never changes earlier picks — the q_domain_cap discipline
    // extended to weighted selection. One partitioned window, zero
    // joins; sampling rate self-adjusts to each doc's weight.
    "q_weighted_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // step is a FIXED constant (not derived from corpus mass): a
      // data-dependent step would break growth-stability — appending
      // documents would move every earlier boundary. 500 chars ≈ one
      // pick per ~2 docs at the synthetic doc sizes, so the
      // boundary-crossing predicate genuinely fires at every sf.
      val step = 500L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars").cast("long").as("wt"))
        .withColumn("cum", sum(col("wt")).over(w))
        .filter(expr(s"cum div $step") > expr(s"(cum - wt) div $step"))
        .select(col("source"), col("doc_id"), col("wt"), col("cum"))
    }),

    // E92: seed-set k-hop expansion — distinct parts reachable in ≤ 2
    // hops from each seed part over the co-purchase graph. The wedge
    // join fans out by mid-node degree, so the frontier is kept
    // ID-only and the seed set bounds the left side (the unbounded
    // all-pairs variant is q_triangles' compact-forward territory);
    // this is the "expand a contamination/dup seed list" pipeline op.
    "q_khop" -> ((s, dir) => {
      // r16 measured two basket-enumeration rewrites (51 and 29
      // one-shot cpu-s) against this self-join shape (16 cpu-s) and
      // kept the self-join; the r16 profile showed BOTH still paid the
      // dominant full 6M-pair emission + distinct on the e2 probe side
      // (stage profile: 3.5 + 6.1 of the 14.5 total cpu-s).
      // r17 (§3 semi-join pushdown): only mids REACHABLE FROM A SEED
      // ever match h2's join, so the h1 dst set — seed-neighbor-sized
      // at any scale — is broadcast-semi-joined into e2's src side
      // BEFORE the pair self-join, and e2's distinct is dropped
      // outright: reach aggregates with count_distinct, which is
      // invariant under duplicate (src, dst) rows, so the pair-level
      // dedup exchange was pure cost. The full corpus×corpus pair
      // stream is now never materialized anywhere in the plan; the
      // seeds branch keeps its own distinct (n_1hop counts rows) with
      // the src < 50 filter pushed below it.
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val a = li.select(col("ok"), col("pk").as("src"))
      val bSide = li.select(col("ok").as("ok2"), col("pk").as("dst"))
      val edges = a.join(bSide, col("ok") === col("ok2") && col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct()
      val seeds = edges.filter(col("src") < 50)
      // h1 is seed-neighbor-sized at any scale but feeds FOUR consumers
      // (mids, h2's probe, the reach union, direct) — unstaged, each
      // re-ran the seed-filtered lineitem self-join (10 lineitem scans
      // in the r17 before-plan; the consumers' differing column
      // pruning defeats exchange reuse). Staged = one edge pass.
      // Distinct pairs either way — values unchanged.
      val h1 = graft.ops.Staging.stage(seeds.select(col("src"), col("dst")))
      val mids = h1.select(col("dst").as("mid")).distinct()
      val e2 = a.join(broadcast(mids), col("src") === col("mid"), "left_semi")
        .join(bSide, col("ok") === col("ok2") && col("src") =!= col("dst"))
        .select(col("src").as("mid"), col("dst").as("dst2"))
      val h2 = h1.join(e2, col("dst") === col("mid"))
        .select(col("src"), col("dst2").as("dst"))
        .filter(col("dst") =!= col("src"))
      val reach = h1.union(h2)
        .groupBy(col("src")).agg(count_distinct(col("dst")).as("n_reach2"))
      val direct = h1.groupBy(col("src")).agg(count(lit(1)).as("n_1hop"))
      direct.join(reach, "src")
        .select(col("src").as("seed_part"), col("n_1hop"), col("n_reach2"))
    }),

    // E93: per-source token entropy — Shannon H and its normalized form
    // over each source's term distribution: the curator's diversity /
    // degeneracy signal (a collapsing generator or boilerplate-heavy
    // source shows up as H ≪ ln(vocab)). p = ct/n is an IEEE-exact
    // division of exact longs; the ln-term sum uses the chi-square
    // ordered-fold discipline (sort_array → aggregate) so the float
    // fold order is identical everywhere, then round(6) absorbs libm
    // ulps. collect_list is bounded by VOCAB per source, not corpus.
    "q_source_entropy" -> ((s, dir) => {
      val tokens = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      // vocab×sources rows, two consumers (totals + the p join) — each
      // re-ran the full token explode+count pass when unstaged (r17,
      // same class as the dsir fix). Exact integer counts.
      val ct = graft.ops.Staging.stage(tokens.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("ct")))
      val tot = ct.groupBy(col("source"))
        .agg(sum(col("ct")).as("n"), count(lit(1)).as("vocab"))
      ct.join(broadcast(tot), "source")
        .withColumn("p", col("ct").cast("double") / col("n").cast("double"))
        .withColumn("h_term", -col("p") * log(col("p")))
        .groupBy(col("source"), col("n"), col("vocab"))
        .agg(sort_array(collect_list(struct(col("term"), col("h_term"))))
          .as("a"))
        .select(col("source"), col("n").as("n_tokens"), col("vocab"),
          round(aggregate(col("a"), lit(0.0), (acc, x) => acc + x("h_term")), 6)
            .as("entropy"),
          round(aggregate(col("a"), lit(0.0), (acc, x) => acc + x("h_term"))
            / log(col("vocab").cast("double")), 6).as("entropy_norm"))
    }),

    // E94: incremental (delta-vs-corpus) near-dup audit — the standing
    // MinHash index probed by each ingest batch: per delta doc, is it a
    // verified near-dup of the existing corpus (reject signal) and how
    // many within-batch partners does it have (within-batch keep-one
    // feed). Cost scales with |delta|·bands, never corpus×corpus.
    // Delta = doc_id % 5 == 4 (scale-invariant split, straddles the
    // planted dup families).
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val existing = docs.filter(col("doc_id") % 5 =!= 4)
      val delta = docs.filter(col("doc_id") % 5 === 4)
      graft.ops.Dedup.incrementalNearDups(existing, delta, "text", "doc_id")
        .select(col("doc_id"), col("dup_of_existing"), col("n_delta_dups"))
    }),

    // R63: index rebasing — each nation's monthly revenue expressed
    // relative to its own first month (= 100). The OLAP "rebase to
    // base period" idiom: exact-cents monthly sums, first_value over an
    // ordered per-nation window, one double division rounded to 6 dp.
    "q_rebase_index" -> ((s, dir) => {
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
    }),

    // E95: bounded-window event dedup — first event per (user, type,
    // hour), batch analog of the streaming dropDuplicatesWithinWatermark
    // (E34): the hour bucket IS the watermark bound. min(struct) partial
    // agg — never a per-bucket window sort; ties impossible (event_id
    // unique) but the struct tiebreak is total anyway.
    "q_event_dedup_hourly" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
          struct(unix_micros(col("ts")).as("us"), col("event_id").as("eid")).as("pick"))
        .groupBy(col("user_id"), col("event_type"), col("hour"))
        .agg(min(col("pick")).as("m"), count(lit(1)).as("n_events"))
        .select(col("user_id"), col("event_type"), col("hour"),
          col("m.eid").as("first_event_id"), col("n_events"))),

    // E98: EXACT set-similarity self-join via prefix filtering (the
    // PPJoin family, public literature) — shingle-set Jaccard ≥ τ with
    // NO probabilistic recall gap (MinHash-LSH's weakness): under a
    // common rarest-first element order, two sets with Jaccard ≥ τ MUST
    // share an element in their (m − ⌈τ·m⌉ + 1)-prefixes, so candidates
    // come from a hash join on PREFIX elements only (the rarest,
    // lowest-fanout ones) + a size-ratio filter; exact intersect
    // verifies survivors. No global element rank is materialized — the
    // order IS the (global_freq, gram) tuple sorted per doc. Elements
    // are 12-char shingles: this corpus's WORD vocabulary is ~31 tokens
    // (and 5-gram vocab ~2k), so short elements are all near-universal
    // and prefix filtering degenerates toward all-pairs (measured 50M
    // candidate fanout at sf0.1); 131k distinct 12-grams restore the
    // rare-prefix premise (1.4M fanout, 256 true pairs). Same τ=0.8 /
    // same answer set as the MinHash family — by construction, since
    // prefix filtering is EXACT.
    "q_simjoin_prefix" -> ((s, dir) => {
      val tau = 0.8
      // grams are hashed to 8-byte keys MAP-SIDE: nothing downstream
      // (distinct, freq count, prefix join, set arrays) ever shuffles a
      // string — same hashed-shingle discipline (and collision caveat)
      // as the MinHash/decontamination family.
      // per-doc dedup happens MAP-SIDE (array_distinct before the
      // explode), so the (doc, gram) stream needs no distinct shuffle;
      // the doc-frequency table is vocabulary-sized (131k grams at
      // sf0.1) and broadcasts — at true corpus scale it becomes a
      // shuffle join on the 8-byte gram key, still never a string.
      // gram_hashes64 = ONE rolling pass per doc; the per-position
      // xxhash64(substring(...)) form it replaces was O(len·n) bytes +
      // one allocation per gram, 33 CPU-seconds at sf0.1.
      // NOTHING corpus×full-array-sized is staged (r11 ENOSPC fix): the
      // earlier shape staged the per-doc gram arrays AND a full-toks
      // keyed frame — ~40 GB of DISK_ONLY blocks at the 5M-doc probe,
      // which filled the host's disk before the prefix join even ran.
      // The gram kernel is cheap enough to re-run per consumer that
      // needs full arrays (one corpus pass for keyed, a 5% sample pass
      // for the ranks, a funnel-filtered pass for the verify sets); the
      // only staged frame is the PREFIX-sized keyed frame below.
      val srcDocs = Tables.documents(s, dir)
      // EXACT-DF MODE (r14 verdict item 5, behind a flag): the sampled
      // broadcast rank map below caps at 2M entries, and its heavy-gram
      // coverage band narrows as vocabulary grows — at some corpus size
      // the map no longer sees the medium-df grams it exists to push
      // out of prefixes. The documented replacement is the LINEAR
      // distributed exact-df join form: exact per-gram doc frequency
      // via one partial-agg groupBy on the 8-byte gram key, ranks
      // joined back onto the gram stream (shuffle on g), and the
      // per-doc rarest-first reorder done with a sort_array regroup
      // (shuffle on doc_id) instead of a map-side kernel — no driver
      // state, no cap, coverage exact at ANY vocabulary. Costs two
      // corpus×grams-scale exchanges the broadcast path never pays
      // (the r10 measurement: ~90 GB of exchange at 5M docs), so it is
      // a FLAG, not the default: flip it when the corpus outgrows the
      // map (the A/B probe record in bench_baselines/ carries the
      // measured crossover). Both orders are consistent total orders,
      // so prefix filtering itself is lossless under either; the two
      // modes DO flag different bucket sets heavy, and with width-3
      // refinement the anchor is probabilistic, so cross-mode identity
      // holds up to the documented ≤ 1e-5 per-pair anchor residual
      // (observed bit-identical at sf0.01/sf0.1 — diff_verify).
      // r17 AUTO-SWITCH (r16 verdict item 3): the flag now defaults
      // from the corpus size instead of a constant `false`. The
      // sampled map's coverage premise is that the ~df ≥ 40 gram tail
      // fits its 2M-entry cap: the r13/r14 GramDfProbe measured the
      // df ≥ 64 tail at 1.4M grams at 5M docs (growing ~linearly in
      // docs), so the cap saturates somewhere near ~7M docs — past
      // that the map silently truncates exactly the medium-df grams
      // it exists to push out of prefixes, AND a 2M-row driver collect
      // has no business in a default plan at that scale. Below the
      // threshold the sampled path stays the default because it is
      // MEASURED faster (r16_simjoin_exactdf_ab.json: exact = 2.31×
      // sampled at 500k docs — the exact path's two corpus×grams
      // exchanges dominate until the map's coverage breaks). Doc count
      // comes from parquet footers (no job); both modes verify every
      // surviving pair exactly, so the switch moves candidate COUNT,
      // never results (the ≤ 1e-5 anchor residual caveat below applies
      // to both modes identically). Explicit conf/env still overrides
      // in either direction.
      val exactDfAutoDocs = s.conf.getOption("spark.graft.simjoin.exactDfAutoDocs")
        .map(_.toLong).getOrElse(6000000L)
      val nSrcDocs = Tables.parquetRowCount(s, dir, "documents")
      val exactDf = s.conf.getOption("spark.graft.simjoin.exactDf")
        .orElse(sys.env.get("SPARK_GRAFT_SIMJOIN_EXACTDF"))
        .map(_.toBoolean)
        .getOrElse(nSrcDocs > exactDfAutoDocs)
      // Canonical token order WITHOUT a distributed frequency join
      // (r11): heavy-gram ranks are estimated from a deterministic 5%
      // doc sample, capped top-2M by count (driver state ≤ ~32 MB at
      // ANY corpus size), broadcast as a binary-searchable (sorted
      // keys, log2-bucket ranks) pair, and applied MAP-SIDE by the
      // heavy_rank_order kernel — each doc's gram array is reordered
      // rarest-first in one per-row call. The r10 shape computed exact
      // global df (groupBy over the exploded ~corpus×grams stream) and
      // joined it back per gram, then re-grouped per doc: at the 5M-doc
      // probe that was two ~1.4B-row exchanges plus a sort-aggregate —
      // ~90 GB of disk for an ordering HEURISTIC. Prefix filtering is
      // lossless under any consistent total order and the est-filter +
      // exact verify decide per pair, so the order affects candidate
      // COUNT only, never results (see HeavyRankOrder's scaladoc; df
      // probe: vocab 131M, df≥64 tail 1.4M, max df 778 at 5M docs).
      // The sample filter pushes below roundRobinSpread's exchange, so
      // only the ~5% sample's text ever shuffles here.
      // md5 sample, NOT pmod(xxhash64(doc_id), 20) (r14): the xxhash64
      // form ALIASED with this corpus — synthetic text whose word
      // choices derive from hash-mod arithmetic over the doc id makes
      // gram membership correlate with any same-family hash-mod doc
      // sample, and the measured effect was total: grams with df
      // 100–300 had sampled_df = 1 (expected ~13), so the rank map
      // never saw exactly the medium-df grams it exists to push out of
      // prefixes, their small-hash members flooded every prefix, and
      // candidate emissions grew 12.3x at 10x data (the r13 probe's
      // superlinear residual). Every other sampler in the engine
      // already uses the md5 idiom for exactly this decorrelation
      // property (capFitSample, table samples, split assignment); this
      // was the one stray. 0x0d/0x100 = 5.08% keeps the rank
      // calibration (rank >= 2 ~ df >= ~80).
      // sampled-path state is LAZY: under the exact-df flag neither the
      // sample aggregate nor the broadcast is ever built
      lazy val heavySorted = Tables.roundRobinSpread(srcDocs)
        .filter(substring(md5(concat(lit("rankmap:"),
          col("doc_id").cast("string"))), 1, 2) < lit("0d"))
        .select(explode(array_distinct(
          graft.functions.exprs.gram_hashes64(col("text"), 12))).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .orderBy(col("c").desc, col("g")).limit(2000000)
        .collect()
        .map(r => (r.getLong(0), (63 - java.lang.Long.numberOfLeadingZeros(
          r.getLong(1))).toByte))
        .sortBy(_._1)
      lazy val bcKeys = s.sparkContext.broadcast(heavySorted.map(_._1))
      lazy val bcRanks = s.sparkContext.broadcast(heavySorted.map(_._2))
      // keyed is a PLAIN plan (r13): its one consumer is the staged
      // refined frame below, whose cache build evaluates the gram
      // kernel + reorder + signature exactly once. (Through r12 keyed
      // itself was the staged frame and the self-join's two sides each
      // exploded it into their OWN corpus-scale exchange: AQE never
      // reused the twin exchanges — Spark 4 wraps cache scans in
      // TableCacheQueryStage, and the exchanges above two distinct
      // cache stages stop matching, measured as two 1.45 GB shuffle
      // writes of identical bytes at sf10.) The digest is computed
      // over the FULL toks array before the prefix slice is taken —
      // min() is order-invariant, so sig(toks) == sig(raw grams) and
      // the estimate targets exactly the verify's full-set Jaccard.
      // (The chained projections keep the gram kernel + reorder
      // evaluated ONCE per row: toks is referenced by several
      // non-cheap consumers, which blocks CollapseProject from
      // inlining it per consumer.)
      lazy val keyed = Tables.roundRobinSpread(srcDocs)
          .select(col("doc_id"),
            graft.functions.BroadcastRank.heavyRankOrder(array_distinct(
                graft.functions.exprs.gram_hashes64(col("text"), 12)),
              bcKeys, bcRanks).as("toks"))
          .select(col("doc_id"), size(col("toks")).as("m"), col("toks"))
          .select(col("doc_id"), col("m"),
            expr(s"slice(toks, 1, m - cast(ceil($tau * m) as int) + 1)")
              .as("ptoks"),
            graft.functions.exprs.sig_digest(
              graft.functions.exprs.minhash_sig_l(col("toks"), 64, 42L)).as("dg"))
      // exact-df keyed frame (flag path — see the exactDf scaladoc):
      // rank = floor(log2(exact df)) for df ≥ 2 (length(bin(c)) − 1 is
      // the exact integer log2 — no float log2 boundary risk), else 0.
      // SINGLE-NODE-SAFE FORM (r16; the design the r15 A/B record
      // named): the r15 shape regrouped the full (rank, g) struct
      // stream per doc with sort_array(collect_list(...)) — an
      // ObjectHashAggregate that shipped one O(doc-grams) ARRAY
      // partial per doc×partition, fell back to sort-based agg, and
      // spilled the full corpus×grams stream past the probe host's
      // disk at 500k docs (ENOSPC, bench_baselines/
      // r15_simjoin_exactdf_ab.json). Now nothing regroups full
      // arrays: (a) per-doc m / MinHash digest / prefix length are
      // PURE map-side functions of the text (one extra gram-kernel
      // pass — cheap to re-run, the staging lesson above); (b) the
      // rarest-first PREFIX is the plen-smallest (hi, lo) pairs under
      // HeavyRankOrder's comparator packed into two signed longs —
      // hi = rank<<56 | g>>>8 (non-negative, rank ≤ 63, so signed
      // sort == unsigned) and lo = g XOR Long.MinValue (signed lo
      // order == unsigned g order) — kept by the bounded-heap
      // smallest_k aggregate (functions/PrefixSmallestK): partials
      // are ≤ plen entries of 16 bytes, the exchange carries plain
      // bounded buffers, and the result is identical to
      // slice(sort_array(collect_list(struct)), 1, plen) by the
      // comparator's totality (g = lo XOR min recovers the gram,
      // rank = hi >>> 56 recovers the rank byte — no third field can
      // break ties). The gram stream pays exactly two plain-row
      // corpus×grams exchanges (rank join on g, prefix agg on
      // doc_id) — the linear cluster shape, now also disk-feasible
      // single-node.
      lazy val keyedE = {
        val docMeta = Tables.roundRobinSpread(srcDocs)
          .select(col("doc_id"), array_distinct(
            graft.functions.exprs.gram_hashes64(col("text"), 12)).as("tk"))
          .select(col("doc_id"), size(col("tk")).as("m"),
            graft.functions.exprs.sig_digest(
              graft.functions.exprs.minhash_sig_l(col("tk"), 64, 42L)).as("dg"))
          .select(col("doc_id"), col("m"), col("dg"),
            (col("m") - ceil(lit(tau) * col("m")).cast("int") + lit(1))
              .as("plen"))
        val grams = Tables.roundRobinSpread(srcDocs)
          .select(col("doc_id"), explode(array_distinct(
            graft.functions.exprs.gram_hashes64(col("text"), 12))).as("g"))
        val dfRanks = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2)
          .select(col("g"), (length(bin(col("c"))) - 1).cast("int").as("rank"))
        val pairsK = grams
          .join(dfRanks.hint("shuffle_hash"), Seq("g"), "left")
          .select(col("doc_id"),
            shiftleft(coalesce(col("rank"), lit(0)).cast("long"), 56)
              .bitwiseOR(shiftrightunsigned(col("g"), 8)).as("hi"),
            col("g").bitwiseXOR(lit(Long.MinValue)).as("lo"))
        // plen joins onto the gram stream (shuffle_hash build = the
        // docs-sized meta frame), the heap agg reuses the join's
        // doc_id partitioning (no exchange of its own), and m/dg join
        // back onto the DOC-sized agg output, never the gram stream
        pairsK
          .join(docMeta.select(col("doc_id"), col("plen"))
            .hint("shuffle_hash"), Seq("doc_id"))
          .groupBy(col("doc_id"))
          .agg(graft.functions.PrefixSmallestK.agg(
            col("hi"), col("lo"), col("plen")).as("pref"))
          .join(docMeta.select(col("doc_id"), col("m"), col("dg"))
            .hint("shuffle_hash"), Seq("doc_id"))
          .select(col("doc_id"), col("m"), col("pref"), col("dg"))
      }
      // positional prefix filter (the "PP" in PPJoin): a shared element
      // at 1-based sorted position rn caps the possible overlap at
      // 1 + min(ma − rn_a, mb − rn_b); pairs that can't reach the
      // τ-equivalent overlap α = ⌈τ/(1+τ)·(ma+mb)⌉ die at the join,
      // before the distinct (measured 90k → 17k candidates at sf0.1)
      // explicit pg-keyed repartition: the prefix stream is only ~6 MB
      // at sf0.1, so AQE coalesces the self-join's input to a handful
      // of partitions — but the JOIN's work is quadratic in bucket
      // size, not linear in input bytes, and under load the coalesced
      // stage serialized on 10 tasks (r7 profile). A user repartition
      // pins the join's parallelism; AQE honors user partition counts.
      // The count is ADAPTIVE (r11; re-sized r14): a pinned 32 was
      // right at sf0.1 but at 5M docs it handed each shuffled-hash
      // task a ~15M-row build. The r11 sizing (one partition per ~50k
      // docs) assumed ~20 prefix rows/doc; measured prefix length is
      // ~57 rows/doc, so 50k-doc partitions carried ~2.8M-row hash
      // builds (~200 MB): the r14 idle profile showed the join probing
      // at 2.6 µs/emission at 5M docs vs 1.04 µs at sf10 — build-side
      // locality, not emission count, was the bigger half of the 13.7x
      // wall ratio. One partition per ~15k docs bounds the build at
      // ~900k rows (~60 MB). The 192 CAP is the bypass-merge boundary,
      // measured the hard way: 334 partitions crossed
      // spark.shuffle.sort.bypassMergeThreshold (200) and the staging
      // exchange's writer switched from per-partition bypass files to
      // the sort-based path — the kernel+write stage went 2793 → 7634
      // cpu-s (2.7x) for identical bytes, costing far more than the
      // halved join paid back. The cap is therefore DERIVED from the
      // session's bypassMergeThreshold (minus headroom for AQE's
      // occasional +partition re-splits), not hard-coded to this
      // probe host's 192 (r14 advisory): a cluster deployment that
      // raises spark.shuffle.sort.bypassMergeThreshold for its scale
      // (e.g. 4096 at 50M docs, where 15k-doc builds need ~3.3k
      // partitions) gets the matching cap automatically instead of
      // silently inheriting the probe host's boundary and growing
      // ~15M-row hash builds per task — the r11 failure mode the
      // adaptive count exists to prevent.
      // Row count from parquet FOOTERS (nSrcDocs above) — through r16
      // this was srcDocs.count(), which is metadata-only work but still
      // scheduled a job in the query's graph (§5: keep the driver out
      // of query paths — the same fix fractionRerank got in r16).
      // ~57 prefix rows/doc measured ⇒ 15k docs/partition ≈ 900k-row
      // builds; sizing shared with q_embed_neardup (Dedup helper)
      val nParts = Dedup.sizedShufflePartitions(nSrcDocs, 15000L,
        s.sessionState.conf.numShufflePartitions,
        s.conf.get("spark.shuffle.sort.bypassMergeThreshold", "200").toInt)
      // shuffle_hash (r11): the pg keys are near-unique 8-byte gram
      // hashes; sort-merge sorted the ~Σplen-row prefix stream TWICE
      // (the 5M-doc probe put its disk-filling sort spill here), where
      // a per-partition hash build walks the buckets with no sort.
      //
      // PRE-VERIFY est-filter IN the join (the r11
      // Dedup.minhashNearDupPairs shape): the prefix funnel's survivors
      // are overwhelmingly junk — measured at sf0.1: 16,871 candidates
      // of which 16,612 have TRUE jaccard < 0.1 and only 259 reach
      // τ = 0.8 (the positional filter can't see past one shared gram;
      // an aggregated positional bound was measured to kill ZERO of
      // them). The r10 shape est-filtered AFTER the distinct by joining
      // 512-B signatures onto the pair set — at the 5M-doc probe the
      // pre-distinct pair exchange (~500M duplicated pairs) plus the
      // two signature joins' sort-merge spill filled the host's disk
      // (ENOSPC surfacing as SPILL_OUT_OF_MEMORY). Filtering in the
      // join on a digest slice each prefix row carries collapses the
      // funnel before ANY pair-level exchange — the distinct sees
      // est-survivors only, and no shuffle anywhere scales with the
      // raw candidate count. r13 narrows the carried slice from the
      // full 64 bytes to 16 (the digest was ~70% of every prefix row
      // and so ~70% of the staged stream's bytes): the cut scales to
      // its σ (τ − 4σ₁₆, σ₁₆ = 1/(2√16) ⇒ 0.30), so a TRUE τ-pair
      // fails it w.p. P[Binom(16, 0.8) ≤ 4] ≈ 4e-9 — below the 64-byte
      // residual — while junk (this corpus separates by a 0.7 jaccard
      // gap, so junk estimates ~0.1) passes w.p. P[Binom(16, 0.1) ≥ 5]
      // ≈ 1e-2: the funnel into the distinct grows only ~2× and the
      // exact verify still decides membership of every survivor. The
      // DuckDB oracle is the exact all-pairs ground truth, so the
      // est-filter is recall-audited every round.
      val est16Cut = tau - 4.0 / (2.0 * math.sqrt(16.0))
      // The refinement anchor stays on the FULL 64-byte digest, now
      // with WIDTH-3 blocks (r14): junk pairs inside a shared-gram
      // bucket have per-byte digest agreement j ≈ their true jaccard
      // (~0.1 on this corpus), so a 2-byte block only cut their
      // emission 32·j² ≈ 3x, while 3-byte blocks cut it 21·j³ ≈ 47x —
      // and random cross-bucket collisions drop 2⁻¹⁶ → 2⁻²⁴. The cost
      // is the anchor becoming probabilistic at width 3: a TRUE τ-pair
      // agrees on a given 3-byte block w.p. τ³ (bytes are independent
      // MinHash agreements), so P[no block of 21 agrees] =
      // (1 − τ³)²¹ ≈ 2.9e-7 at the τ = 0.8 edge (tighter above it) —
      // dominating the est16 residual but still oracle-audited every
      // round (with the est filter already on a 16-byte slice at cut
      // 0.30 < 1/2, the width-2 pigeonhole bit-identity was ALREADY
      // forfeit — r13 advisory — so width 3 trades an unused guarantee
      // for the 15x junk cut). The guard fails loud if a future tau
      // pushes the anchor loss above 1e-5 (widen tau, narrow blocks,
      // or disable refinement — a deliberate edit).
      val anchorLoss = graft.ops.BucketRefine.anchorLoss(64, 3, tau)
      require(anchorLoss <= 1e-5,
        f"prefix-join width-3 block refinement would drop true pairs at $anchorLoss%.2e " +
          "per pair — raise tau, use width 2, or disable refinement")
      // HEAVY-GRAM SUB-REFINEMENT (r12, graft.ops.BucketRefine; r14:
      // width-3 blocks + a rank sample that actually sees the heavy
      // grams — see the md5 note above): prefix buckets bigger than
      // the cap are re-keyed per 3-byte digest block before emission,
      // so a bucket's junk mass (pairs sharing this one gram and
      // little else, per-byte digest agreement j ≈ 0.1) emits at
      // 21·j³ ≈ 2% of C(n,2) while true pairs anchor on a fully-
      // agreeing block w.p. ≥ 1 − 2.9e-7 (the guard above). The cap
      // sits above any genuine duplicate family's per-gram bucket yet
      // below the corpus-scaling buckets at every probed size —
      // measured BOTH ways at k300: an ~80-doc cap cut the
      // join-consume CPU 6.3× (11.6k→1.8k CPU-s), while a ~16-doc cap
      // pulled genuinely-similar template families into refinement,
      // whose pairs re-emit once per agreeing block and blew the
      // pre-distinct exchange past the probe host's disk.
      // The heavy flag is MAP-SIDE, from the rank sample the query
      // already broadcasts (rank ≥ 2 ⇔ sampled doc-count ≥ 4 ⇔ full
      // count ≳ 80; see HeavyRankAtLeast — a first cut that computed
      // exact bucket counts with a groupBy + join-back re-paid the
      // ~26 GB prefix exchange at 5M docs and ENOSPC'd the probe; the
      // refinement is lossless under ANY flag, so the sample is
      // strictly better).
      //
      // refined is STAGED AFTER its (pg, sk) repartition — the join's
      // two sides then read the cache's own HashPartitioning and
      // EnsureRequirements inserts NO exchange at all (Spark 4's
      // requireAllClusterKeys is satisfied: the partition keys are
      // exactly the join keys, in order). Through r12 the two sides
      // each re-ran the explode into twin corpus-scale exchanges —
      // the "one exchange both sides reuse" the r12 comment promised
      // never happened: AQE wraps each side's cache scan in its own
      // TableCacheQueryStage, the exchanges above them stop
      // canonical-matching, and the sf10 profile showed two identical
      // 1.45 GB shuffle writes (~24% of the query's CPU). The staged
      // frame is prefix-sized (≈44 B/row columnar: ids, m, rn, pg, sk
      // and the 16-byte digest slice — ~7 GB at the 5M-doc probe,
      // nowhere near the ~40 GB full-toks staging that ENOSPC'd r11)
      // and lives until the query ends, like every stage.
      // The sub-key in the build-side hash map's key is what stops
      // heavy-bucket probes from walking the whole bucket.
      // the prefix stream with a per-element heavy flag: sampled mode
      // computes it map-side from the broadcast map (one binary search
      // per exploded row); exact mode unpacks gram and rank from the
      // (hi, lo) pair the heap agg kept (posexplode + bit ops — no
      // join, no broadcast, all codegen'd built-ins). The exact flag
      // cut is rank ≥ 6 ⇔ df ≥ 64 — NOT the sampled path's rank ≥ 2,
      // whose meaning is ~20× higher (sampled count ≥ 4 at 5.08%
      // sampling ⇔ full df ≈ 80): reusing the numeric 2 under exact
      // ranks would flag every df ≥ 4 gram heavy and push genuine
      // 4-doc near-dup families into width-3 block refinement, where
      // pairs re-emit once per agreeing block — the measured k300
      // blow-up class (see the ~16-doc-cap note below).
      val prefixRows =
        if (!exactDf)
          keyed
            .select(col("doc_id"), col("m"), col("dg"),
              posexplode(col("ptoks")).as(Seq("pos", "pg")))
            .select(col("doc_id"), col("m"), col("dg"),
              (col("pos") + 1).as("rn"), col("pg"),
              graft.functions.BroadcastRank.heavyRankAtLeast(
                col("pg"), bcKeys, bcRanks, 2).as("hv"))
        else
          keyedE
            .select(col("doc_id"), col("m"), col("dg"),
              posexplode(col("pref")).as(Seq("pos", "z")))
            .select(col("doc_id"), col("m"), col("dg"),
              (col("pos") + 1).as("rn"),
              col("z.lo").bitwiseXOR(lit(Long.MinValue)).as("pg"),
              (shiftrightunsigned(col("z.hi"), 56) >= 6).as("hv"))
      val refined = graft.ops.Staging.stage(prefixRows
        .select(col("doc_id"), col("m"), substring(col("dg"), 1, 16).as("dg16"),
          col("rn"), col("pg"),
          explode(graft.ops.BucketRefine.subkeysWide(col("dg"), 64, 3,
            col("hv"))).as("sk"))
        .repartition(nParts, col("pg"), col("sk")))
      val cand = refined.as("a").hint("shuffle_hash").join(refined.as("b"),
          col("a.pg") === col("b.pg") && col("a.sk") === col("b.sk") &&
            col("a.doc_id") < col("b.doc_id") &&
            greatest(col("a.m"), col("b.m")) * tau <= least(col("a.m"), col("b.m")) &&
            (lit(1) + least(col("a.m") - col("a.rn"), col("b.m") - col("b.rn")) >=
              ceil(lit(tau / (1 + tau)) * (col("a.m") + col("b.m")))))
        .filter(graft.functions.exprs.digest_agree(col("a.dg16"), col("b.dg16"))
          >= est16Cut)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val candF = graft.ops.Staging.stage(cand)
      // verify via the sorted-merge Jaccard kernel (zero allocation per
      // pair) instead of array_intersect (hash set per pair). Full gram
      // sets are re-derived from the SOURCE for docs that actually
      // reach the verify — post-est-filter that is funnel-sized (~500
      // docs at sf0.1) at any corpus size, so the broadcast-semi join
      // keeps the corpus scan in place (no text shuffle) and the gram
      // kernel runs only for surviving rows. sort_array(distinct grams)
      // == sort_array(toks): same set, same signed order.
      val candIds = candF.select(col("id_a").as("doc_id"))
        .union(candF.select(col("id_b").as("doc_id"))).distinct()
      val sets = srcDocs.join(broadcast(candIds), "doc_id")
        .select(col("doc_id"), sort_array(array_distinct(
          graft.functions.exprs.gram_hashes64(col("text"), 12))).as("gs"))
      // broadcast the candidate PAIRS into the first set join: candF is
      // funnel-sized (ids only) at any scale, while sets carries the
      // per-doc gram arrays. The second join's array payloads are now
      // est-filter survivors only — the exchange that carried 46 MB of
      // junk arrays at sf0.1 carries ~2 MB.
      sets.select(col("doc_id").as("id_a"), col("gs").as("ga"))
        .join(broadcast(candF), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("gs").as("gb")), "id_b")
        .withColumn("jaccard", graft.functions.exprs.jaccard_sorted_l(col("ga"), col("gb")))
        .filter(col("jaccard") >= tau)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }),

    // E136: hybrid retrieval — BM25 more-like-this (text channel) and
    // embedding cosine (vector channel) fused by Reciprocal Rank
    // Fusion, the standard two-tower RAG retrieval shape. Determinism
    // discipline: per-term BM25 contributions are integer-ized to
    // micro-units BEFORE the per-doc sum (float summation order is
    // engine-dependent; integer addition is not), ranks use the
    // integer score + id tiebreaks, and RRF is integer division
    // 10^9 div (60 + rank) per channel — the integer-ization removes
    // SUMMATION-ORDER sensitivity, not libm sensitivity: contrib_micro
    // is floor(ln(...)·…·1e6 + 0.5), and JVM Math.log vs DuckDB ln are
    // not guaranteed last-ulp identical, so a value landing exactly on
    // a floor boundary could differ by 1 micro-unit between engines and
    // flip a rank on adversarial data (not observed on this corpus; a
    // shared pre-rounded idf table would close even that residual).
    // Fusion depth 20/channel, final k=10.
    "q_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k1 = 1.2; val b = 0.75
      val docs = Tables.documents(s, dir)
      val tokens = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      // NOT staged (r17, measured and rejected — see q_bm25): the
      // staged-tf single-tokenize form was flat here at the 500k-doc
      // probe and slower at sf0.1; kept in the measured-fastest form.
      val dl = tokens.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val tf = tokens.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tokens.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
      // query side: the distinct terms of the 5 query docs
      val qterms = tokens.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("term")).distinct()
      val textScored = qterms
        .join(tf.join(df, "term").join(dl, "doc_id"), "term")
        .filter(col("doc_id") =!= col("query_id"))
        .crossJoin(broadcast(corpus))
        .withColumn("avgdl",
          col("tot_dl").cast("double") / col("n_docs").cast("double"))
        .withColumn("idf",
          log((col("n_docs").cast("double") - col("df") + 0.5)
            / (col("df").cast("double") + 0.5) + 1.0))
        .withColumn("contrib_micro",
          floor(col("idf") * (col("tf") * (k1 + 1.0))
            / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
            * 1000000.0 + 0.5).cast("long"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("contrib_micro")).as("bm25_micro"))
      val wt = Window.partitionBy(col("query_id"))
        .orderBy(col("bm25_micro").desc, col("doc_id").asc)
      val textTop = textScored.withColumn("rt", row_number().over(wt))
        .filter(col("rt") <= 20).select(col("query_id"), col("doc_id"), col("rt"))
      // vector channel: cosine between the query doc's embedding and all
      // others (ids align 1:1 with documents); ranked on the rounded
      // score + id tiebreak, same as the ANN family
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      val qv = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val wv = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("doc_id").asc)
      val vecTop = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          round(graft.functions.exprs.cosine_f(col("embedding"), col("qe")), 9).as("cos"))
        .withColumn("rv", row_number().over(wv))
        .filter(col("rv") <= 20).select(col("query_id"), col("doc_id"), col("rv"))
      // RRF fusion: integer nanos, absent channel contributes 0
      val wf = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_nano").desc, col("doc_id").asc)
      textTop.join(vecTop, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf_nano",
          coalesce(expr("CAST(1000000000 div (60 + rt) AS BIGINT)"), lit(0L)) +
            coalesce(expr("CAST(1000000000 div (60 + rv) AS BIGINT)"), lit(0L)))
        .withColumn("rank", row_number().over(wf))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("rrf_nano"))
    }),

    // E137: LSH banding S-curve planner — P[candidate] = 1−(1−j^r)^b
    // for every (bands, rowsPerBand) split of 64 hashes × a Jaccard
    // grid: the table a curator reads to pick banding before a dedup
    // run (and the quantitative story behind the E2 est-filter: at
    // 16×4 the curve passes ~0.5-Jaccard pairs that the 0.8 verify
    // rejects). Cross-engine determinism: j = c/100 (one correctly-
    // rounded division), then ONLY repeated-squaring multiplications —
    // r and b are powers of two, so no pow()/exp()/ln(), and IEEE
    // basic ops are bit-identical in any engine. p published in exact
    // basis points of the resulting double.
    "q_lsh_scurve" -> ((s, dir) => {
      val grid = s.range(1, 20).select((col("id") * 5).as("j_centi"))
      val confs = Seq((32, 2), (16, 4), (8, 8), (4, 16))
      val confDf = s.createDataFrame(confs).toDF("bands", "rows_per_band")
      grid.crossJoin(broadcast(confDf))
        .withColumn("j", col("j_centi").cast("double") / 100.0)
        .withColumn("j2", col("j") * col("j"))
        .withColumn("j4", col("j2") * col("j2"))
        .withColumn("j8", col("j4") * col("j4"))
        .withColumn("j16", col("j8") * col("j8"))
        .withColumn("x", lit(1.0) - when(col("rows_per_band") === 2, col("j2"))
          .when(col("rows_per_band") === 4, col("j4"))
          .when(col("rows_per_band") === 8, col("j8"))
          .otherwise(col("j16")))
        .withColumn("x2", col("x") * col("x"))
        .withColumn("x4", col("x2") * col("x2"))
        .withColumn("x8", col("x4") * col("x4"))
        .withColumn("x16", col("x8") * col("x8"))
        .withColumn("x32", col("x16") * col("x16"))
        .withColumn("p", lit(1.0) - when(col("bands") === 4, col("x4"))
          .when(col("bands") === 8, col("x8"))
          .when(col("bands") === 16, col("x16"))
          .otherwise(col("x32")))
        .select(col("bands"), col("rows_per_band"), col("j_centi"),
          floor(col("p") * 10000.0 + 0.5).cast("long").as("p_bp"))
    }),

    // E99: data-contract quarantine — declarative expectation rules
    // evaluated in ONE scan (conditional partial aggs, no per-rule
    // pass): per rule the violation count and rate, plus the fully-clean
    // row count; the batch gate a training pipeline puts in front of
    // ingestion. The same predicates, applied as filters, split
    // clean/quarantine row sets without re-stating the rules.
    "q_dq_quarantine" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val rules = Seq(
        ("qty_le_45", col("l_quantity") <= 45.0),
        ("discount_le_8pct", col("l_discount") <= 0.08),
        ("price_ge_1000", col("l_extendedprice") >= 1000.0),
        ("shipdate_present", col("l_shipdate").isNotNull))
      val aggs = rules.flatMap { case (n, pred) =>
        Seq(sum(when(!pred, 1L).otherwise(0L)).as(s"viol_$n")) } ++
        Seq(sum(when(rules.map(_._2).reduce(_ && _), 0L).otherwise(1L))
          .as("rows_quarantined"),
          count(lit(1)).as("n_rows"))
      val wide = li.agg(aggs.head, aggs.tail: _*)
      // long form: one row per rule (stack keeps it a single projection)
      val stackArgs = rules.map { case (n, _) => s"'$n', viol_$n" }.mkString(", ")
      wide.select(
        expr(s"stack(${rules.size}, $stackArgs) as (rule, n_violations)"),
        col("rows_quarantined"), col("n_rows"))
        .withColumn("violation_rate",
          round(col("n_violations").cast("double") / col("n_rows"), 6))
    }),

    // E100: rank-transform score calibration — each document's quality
    // proxy (n_chars) expressed as its percent_rank WITHIN its source
    // (tie-sharing, scale-free) plus a global equi-depth decile over the
    // total (n_chars, doc_id) order: the cross-source score-calibration
    // step before mixing corpora with incomparable raw scores. The
    // global rank uses the E77 two-level shape — value-range buckets,
    // within-bucket row_number, tiny bucket-offset prefix — NEVER a
    // row-level global window; the decile is the integer floor formula
    // (grank−1)·10 div n + 1, identical in both engines (ntile's
    // remainder-to-front sizing is deliberately avoided).
    "q_rank_transform" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val ws = Window.partitionBy(col("source")).orderBy(col("n_chars").asc)
      val binned = docs.withColumn("bin", expr("n_chars div 64"))
      val wb = Window.partitionBy(col("bin"))
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      val wo = Window.orderBy(col("bin").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = binned.groupBy(col("bin")).agg(count(lit(1)).as("c"))
        .withColumn("off", coalesce(sum(col("c")).over(wo), lit(0L)))
        .select(col("bin"), col("off"))
      val n = docs.agg(count(lit(1)).as("n"))
      binned.join(broadcast(off), "bin")
        .withColumn("grank", col("off") + row_number().over(wb))
        .crossJoin(broadcast(n))
        .withColumn("global_decile", expr("(grank - 1) * 10 div n + 1"))
        .withColumn("pr_in_source", round(percent_rank().over(ws), 6))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("pr_in_source"), col("global_decile"))
    }),

    // E104: inverted-index build — term → document-frequency + a capped,
    // ordered posting sample: the retrieval-index construction pass. One
    // grouped collect bounded by PER-TERM df (and the emitted sample
    // capped at 10), postings serialized as a join-stable csv string;
    // at 100 TB the posting lists shard by term hash — same shuffle key
    // as this groupBy.
    "q_inverted_index" -> ((s, dir) => {
      val tokens = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .distinct()
      tokens.groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          array_join(slice(sort_array(collect_list(col("doc_id"))), 1, 10), ",")
            .as("posting_head"))
        .filter(col("df") >= 5)
    }),

    // E105: winsorization — clip each customer's order prices at the
    // GLOBAL p05/p95 before summing: the heavy-tail-taming step before
    // mean-based features. The interpolated percentiles are snapped to
    // INTEGER cents inside the true bounds (⌈round(p05,6)⌉, ⌊round(p95,
    // 6)⌋) so the whole clip-then-sum stays in long arithmetic —
    // partition-order independent, no float fold anywhere; round(6)
    // first absorbs cross-engine lerp ulps per the repo's float rule.
    "q_winsorize" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("pc"))
      // GLOBAL percentiles = one group holding the whole table — the
      // built-in's unspillable buffer is exactly wrong here; the
      // spillable aggregate computes the same interpolated values
      val bounds = o.agg(graft.functions.SpillablePercentile
          .agg(col("pc"), Seq(0.05, 0.95)).as("ps"))
        .select(
          ceil(round(element_at(col("ps"), 1), 6)).cast("long").as("lo"),
          floor(round(element_at(col("ps"), 2), 6)).cast("long").as("hi"))
      o.crossJoin(broadcast(bounds))
        .withColumn("clipped", greatest(least(col("pc"), col("hi")), col("lo")))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("pc")).cast("double") / 100.0).as("raw_total"),
          (sum(col("clipped")).cast("double") / 100.0).as("winsorized_total"),
          sum(when(col("pc") < col("lo"), 1L)
            .when(col("pc") > col("hi"), 1L)
            .otherwise(0L)).as("n_clipped"))
    }),

    // E106: per-group min-max feature scaling — (x − min)/(max − min)
    // to [0, 1] within each return-flag segment; grouped exact extrema
    // broadcast back, the normalization step before distance-based ML.
    // Output capped to a deterministic id slice to keep the dump small.
    "q_minmax_scale" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("pc"))
      val ext = li.groupBy(col("l_returnflag").as("rf"))
        .agg(min(col("pc")).as("mn"), max(col("pc")).as("mx"))
      li.join(broadcast(ext), col("l_returnflag") === col("rf"))
        .filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          (col("pc").cast("double") / 100.0).as("price"),
          round((col("pc") - col("mn")).cast("double")
            / (col("mx") - col("mn")).cast("double"), 6).as("price_scaled"))
    }),

    // E107: salted-hash pseudonymization — stable, salt-keyed md5
    // pseudonyms for customer ids plus coarsened order dates: the
    // irreversible-but-joinable anonymization pass (same key ⇒ same
    // pseudonym, so downstream joins/aggregations still work); md5 is
    // engine-portable, unlike xxhash64 which only Spark exposes.
    "q_pseudonymize" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(
          substring(md5(concat(lit("graft-salt-v1:"),
            col("o_custkey").cast("string"))), 1, 16).as("cust_pseudo"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
            .as("order_month"),
          round(col("o_totalprice") * 100).cast("long").as("pc"))
        .groupBy(col("cust_pseudo"), col("order_month"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("pc")).cast("double") / 100.0).as("revenue"))
        .filter(col("n_orders") >= 2)),

    // E101: leave-one-out target encoding — each order's customer-level
    // mean price EXCLUDING the order itself ((Σ−x)/(n−1)): the standard
    // leakage-free categorical encoding for feature pipelines. One
    // grouped exact-cents agg broadcast-joined back — no window, no
    // second scan; the subtraction keeps everything integer until the
    // final division (bit-identical across engines).
    "q_loo_encoding" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("pc"))
      val g = o.groupBy(col("o_custkey").as("ck"))
        .agg(sum(col("pc")).as("s"), count(lit(1)).as("n"))
      o.join(broadcast(g), col("o_custkey") === col("ck"))
        .filter(col("n") > 1)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("pc").cast("double") / 100.0).as("price"),
          round((col("s") - col("pc")).cast("double") / (col("n") - 1) / 100.0, 6)
            .as("loo_mean_price"))
    }),

    // E102: cohort LTV curves — cumulative revenue per signup cohort by
    // cohort age (weeks since first order), the longitudinal upgrade of
    // q_retention's presence matrix: exact-cents partial aggs to the
    // (cohort, age) grid first (tiny), THEN a cumulative window over the
    // grid — the running sum never touches row-level data.
    "q_cohort_ltv" -> ((s, dir) => {
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
    }),

    // E103: inter-arrival gap statistics — per-segment median/p90 days
    // between consecutive orders of the same customer (lag window on the
    // customer key, exact interpolated percentiles on integer day
    // gaps): purchase-cadence profiling, the temporal analog of
    // q_mad_outliers' robust location stats.
    "q_order_gaps" -> ((s, dir) => {
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
    }),

    // E96: NATIVE session_window sessionization — the same 30-minute-gap
    // sessions as q_sessionize but through Spark's built-in
    // session_window aggregation (merging-window state machine, usable
    // unchanged under Structured Streaming) instead of the hand-rolled
    // lag+cumsum windows; session_end here is the window bound
    // (last event + gap), the streaming-eviction boundary.
    "q_session_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 1000).cast("long")).as("value_milli"))
        .select(col("user_id"),
          date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), col("value_milli"))),

    // E147: token-budget selection — fill an exact token budget (half
    // the corpus's tokens here) with the best-quality documents:
    // rank by (quality desc, doc_id), keep docs while the running token
    // total stays ≤ budget. The scalable shape is TWO-PHASE, never a
    // corpus-wide window: (1) per-quality-LEVEL token masses (quality
    // is quantized to ≤10⁴ levels — corpus-linear combinable agg), (2)
    // cumulative sum over the bounded level frame (≤10⁴ rows, the
    // repo's bounded-bucket window shape), (3) whole levels under the
    // budget pass by broadcast-join; ONLY the single boundary level —
    // corpus/10⁴-ish rows — ranks its own docs. Equivalent by
    // construction to the row-level cumsum the oracle runs.
    "q_token_budget" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // d is STAGED (r13): its two consumers — the level aggregate and
      // the broadcast-join probe — sit on different plan shapes (the
      // probe side has no exchange for reuse to dedup, broadcast joins
      // shuffle nothing), so unstaged they each re-ran the
      // quality+token kernel over the corpus: the k1000 probe measured
      // 170 s with the tokenize scan dominating, twice-paid. The
      // staged frame is 4 thin columns (~40 B/row, no text), DISK_ONLY,
      // released by the harness's per-query cache hygiene.
      val d = graft.ops.Staging.stage(
        Tables.roundRobinSpread(Tables.documents(s, dir)).select(
          col("doc_id"), col("source"),
          round(TextAnalysis.qualityScore(col("text")) * 10000).cast("long").as("qm"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("tok")))
      val levels = d.groupBy(col("qm")).agg(sum(col("tok")).as("lt"))
      // budget derived from the LEVEL frame (Σ lt ≡ Σ tok) — a third
      // full pass of the text kernel over the corpus bought nothing
      val budget = levels.agg(expr("sum(lt) div 2").as("b"))
      val wl = Window.orderBy(col("qm").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lcum = levels.withColumn("cum", sum(col("lt")).over(wl))
        .withColumn("before", col("cum") - col("lt"))
        .crossJoin(broadcast(budget))
      val dj = d.join(broadcast(lcum.select(col("qm"), col("before"),
        col("cum"), col("b"))), "qm")
      val fullLevels = dj.filter(col("cum") <= col("b"))
      val wb = Window.partitionBy(col("qm")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // `before <= b` (not <): when a level starts EXACTLY on the
      // budget, the row-level definition still admits its leading
      // zero-token docs (running total stays == budget) — `<` would
      // drop them and diverge from the oracle on any corpus with
      // empty-text documents
      val boundary = dj.filter(col("before") <= col("b") && col("cum") > col("b"))
        .withColumn("ct", sum(col("tok")).over(wb))
        .filter(col("before") + col("ct") <= col("b"))
        .drop("ct")
      fullLevels.union(boundary)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_selected"),
          sum(col("tok")).as("tokens_selected"),
          min(col("qm")).as("min_quality_milli"))
    }),

    // E146: deterministic shuffle-shard — the reproducible-training
    // corpus ordering: every doc gets a seeded md5 shuffle key, a shard
    // (key mod n), and its position within the shard (rank by key).
    // Same seed ⇒ byte-identical epoch ordering on any cluster, any
    // partitioning, any run — the property trainers need to resume or
    // replay a run. The window partitions by SHARD (parallel, each
    // shard sorts only its own keys); at 100 TB shard count scales with
    // the corpus so per-shard sorts stay bounded, and the output is
    // directly consumable by a partitioned sink (E24) as one file per
    // shard. Aggregated per shard here (size + order checksum) so the
    // artifact is small and hash-stable at any scale.
    "q_shuffle_shard" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nShards = 8
      val keyed = Tables.documents(s, dir).select(col("doc_id"),
        conv(substring(md5(concat(lit("epoch0:"),
          col("doc_id").cast("string"))), 1, 12), 16, 10)
          .cast("long").as("k"))
        .withColumn("shard", (col("k") % nShards).cast("int"))
      val w = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
      keyed.withColumn("pos", row_number().over(w))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          // order checksum: Σ pos·doc_id is invariant iff every doc
          // holds its exact position — any swap changes the sum
          sum(col("pos") * col("doc_id")).as("order_checksum"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("shard"))
    }),

    // E144: DSIR importance weights (ops/Dsir.scala) — hashed-unigram
    // target-vs-raw log-likelihood ratios per document, target slice =
    // English docs. Integer micro-nat weights keep the oracle compare
    // on exact integers (see Dsir scaladoc for the libm posture).
    "q_dsir_weights" -> ((s, dir) =>
      graft.ops.Dsir.importanceWeights(
          Tables.documents(s, dir), "doc_id", "text", col("lang") === "en")
        .withColumnRenamed("id", "doc_id")),

    // E145: SemDeDup (ops/Dedup.semDeDup) — cluster-then-prune semantic
    // dedup over the embeddings table. KMeans ⇒ no SQL oracle; the
    // rows-check is backed by DedupSpec's exact reference-implementation
    // and keep-rule invariant tests. Output aggregated per cluster so
    // the artifact is stable and small at any scale.
    "q_semdedup" -> ((s, dir) => {
      val embs = Tables.embeddings(s, dir)
      // TWO-LEVEL sizing (r11): k here is the LEVEL-1 cell count;
      // semDeDup subdivides each cell into ⌈|c|/256⌉ subcells, so final
      // cells hold ~256 vectors at any corpus size (the paper's
      // constant-cell-size configuration). k ≈ ⌈√(n/256)⌉ balances the
      // two levels — per-row assignment cost is k + n/(256k) ≈ 2√(n/256)
      // instead of the flat min(n/256, 1024) whose cap made cells (and
      // the within-cell quadratic term) grow superlinearly at the
      // 2M-vector probe. n comes from the parquet footers DRIVER-SIDE
      // (no job in this query's graph — `embs.count()` is metadata-only
      // work but still schedules a stage per invocation).
      val n = Tables.parquetRowCount(s, dir, "embeddings")
      val k = math.max(8L,
        math.min(1024L, math.ceil(math.sqrt(n / 256.0)).toLong)).toInt
      val d = graft.ops.Dedup.semDeDup(embs, "vec_id", "embedding", k = k)
      d.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          count_distinct(col("group_root")).as("n_groups"),
          round(min(col("cent_sim")), 6).as("min_cent_sim"))
        .orderBy(col("cluster"))
    })
  )

  /** 64-bit wrap-around multiply `x * c mod 2^64` for DuckDB: 32-bit
    * hi/lo split so every intermediate fits signed INT128.
    */
  /** Shared CTE block: the E152 weak-label votes + one-step agreement
    * weights — CTEs c/v/vm/st/w, no WITH prefix, ends after `w` with
    * no trailing comma. Reused by the q_weak_labels oracle and the
    * q_component_labels propagation oracle.
    */
  private def WeakLabelVoteCtes: String = {
    val stops = graft.ops.TextAnalysis.EnglishStopwords
      .map(w => s"'$w'").mkString(", ")
    s"""c AS (
         |  SELECT doc_id, length(text) AS nchars,
         |         CASE WHEN length(text) = 0 THEN 0
         |              ELSE len(string_split(text, ' ')) END AS ntok,
         |         len(list_filter(string_split(text, ' '),
         |             t -> t IN ($stops))) AS stops,
         |         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
         |         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS uppers
         |  FROM documents),
         |v AS (
         |  SELECT doc_id,
         |         CASE WHEN nchars >= 200 THEN 1 WHEN nchars < 50 THEN -1
         |              ELSE 0 END AS lf_len,
         |         CASE WHEN ntok > 0 AND stops * 20 >= ntok THEN 1
         |              WHEN stops = 0 THEN -1 ELSE 0 END AS lf_stop,
         |         CASE WHEN digits * 5 > nchars THEN -1
         |              WHEN digits * 20 < nchars THEN 1 ELSE 0 END AS lf_digit,
         |         CASE WHEN uppers * 4 > nchars THEN -1 ELSE 0 END AS lf_upper
         |  FROM c),
         |vm AS (SELECT *, sign(lf_len + lf_stop + lf_digit + lf_upper) AS m FROM v),
         |st AS (
         |  SELECT
         |    sum(CASE WHEN lf_len <> 0 AND lf_len = m THEN 1 ELSE 0 END) AS a_len,
         |    sum(CASE WHEN lf_len <> 0 THEN 1 ELSE 0 END) AS c_len,
         |    sum(CASE WHEN lf_stop <> 0 AND lf_stop = m THEN 1 ELSE 0 END) AS a_stop,
         |    sum(CASE WHEN lf_stop <> 0 THEN 1 ELSE 0 END) AS c_stop,
         |    sum(CASE WHEN lf_digit <> 0 AND lf_digit = m THEN 1 ELSE 0 END) AS a_digit,
         |    sum(CASE WHEN lf_digit <> 0 THEN 1 ELSE 0 END) AS c_digit,
         |    sum(CASE WHEN lf_upper <> 0 AND lf_upper = m THEN 1 ELSE 0 END) AS a_upper,
         |    sum(CASE WHEN lf_upper <> 0 THEN 1 ELSE 0 END) AS c_upper
         |  FROM vm),
         |w AS (
         |  SELECT
         |    CASE WHEN c_len = 0 THEN 0 ELSE CAST(round(a_len * 1e6 / c_len) AS BIGINT) END AS w_len,
         |    CASE WHEN c_stop = 0 THEN 0 ELSE CAST(round(a_stop * 1e6 / c_stop) AS BIGINT) END AS w_stop,
         |    CASE WHEN c_digit = 0 THEN 0 ELSE CAST(round(a_digit * 1e6 / c_digit) AS BIGINT) END AS w_digit,
         |    CASE WHEN c_upper = 0 THEN 0 ELSE CAST(round(a_upper * 1e6 / c_upper) AS BIGINT) END AS w_upper
         |  FROM st)""".stripMargin
  }

  private def mulMod64(x: String, c: String): String =
    s"((($x & 4294967295)::HUGEINT * $c::HUGEINT" +
      s" + ((($x >> 32)::HUGEINT * $c::HUGEINT) % 4294967296::HUGEINT)" +
      s" * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT"

  /** Shared CTE prefix computing `simhashes(doc_id, simhash)` — a
    * bit-exact DuckDB port of [[graft.functions.HashKernels.simHash]]
    * (n=3): gram hash b1*B^2 + b2*B + b3 with B=1000003 over UTF-8
    * BYTES (extracted via hex(encode(text)) two-hex-digit slices — the
    * engine kernel hashes bytes, and the earlier ascii(substring(...))
    * form hashed CODEPOINTS, which coincides with bytes only on ASCII
    * text and overflowed INT32 on CJK codepoints — both caught by the
    * r11 adversarial corpus), splitmix64 finalizer (add
    * 0x9e3779b97f4a7c15, two xor-shift + wrap-multiply rounds), per-bit
    * +-1 majority vote, then re-sign the unsigned result to Spark's
    * LongType bit pattern.
    */
  private val SimhashOracleCte: String =
    s"""WITH hx AS (
       |  SELECT doc_id, hex(encode(text)) AS hs,
       |         octet_length(encode(text)) AS nb
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |         (CAST('0x' || substring(hs, 2*i - 1, 2) AS BIGINT) * 1000006000009
       |          + CAST('0x' || substring(hs, 2*i + 1, 2) AS BIGINT) * 1000003
       |          + CAST('0x' || substring(hs, 2*i + 3, 2) AS BIGINT))::UBIGINT AS h
       |  FROM hx, LATERAL (SELECT unnest(range(1, nb - 1)) AS i)
       |  UNION ALL
       |  -- texts shorter than the 3-byte window: the kernel returns
       |  -- mix64(rollingHash(text)) directly; a SINGLETON gram through
       |  -- the vote reproduces exactly that (vote of one element = its
       |  -- own bits), so short docs feed their whole-text polynomial in
       |  SELECT doc_id,
       |         (sum(CAST('0x' || substring(hs, 2*i - 1, 2) AS BIGINT)
       |              * (CASE nb - i WHEN 0 THEN 1 ELSE 1000003 END)))::UBIGINT AS h
       |  FROM (SELECT doc_id, hs, nb, unnest(range(1, nb + 1)) AS i
       |        FROM hx WHERE nb >= 1 AND nb < 3)
       |  GROUP BY doc_id
       |  UNION ALL
       |  SELECT doc_id, 0::UBIGINT AS h FROM hx WHERE nb = 0
       |),
       |m1 AS (SELECT doc_id,
       |         ((h::HUGEINT + 11400714819323198485::HUGEINT)
       |           % 18446744073709551616::HUGEINT)::UBIGINT AS x FROM grams),
       |m2 AS (SELECT doc_id, xor(x, x >> 30) AS x FROM m1),
       |m3 AS (SELECT doc_id, ${mulMod64("x", "13787848793156543929")} AS x FROM m2),
       |m4 AS (SELECT doc_id, xor(x, x >> 27) AS x FROM m3),
       |m5 AS (SELECT doc_id, ${mulMod64("x", "10723151780598845931")} AS x FROM m4),
       |sh AS (SELECT doc_id, xor(x, x >> 31) AS sh FROM m5),
       |votes AS (
       |  SELECT doc_id, b,
       |         sum(CASE WHEN (sh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM sh, LATERAL (SELECT unnest(range(0, 64)) AS b)
       |  GROUP BY doc_id, b
       |),
       |outbits AS (
       |  SELECT doc_id,
       |         sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0 END) AS u
       |  FROM votes GROUP BY doc_id
       |),
       |simhashes AS (
       |  SELECT doc_id,
       |       (CASE WHEN u >= 9223372036854775808::HUGEINT
       |             THEN u - 18446744073709551616::HUGEINT ELSE u END)::BIGINT AS simhash
       |  FROM outbits
       |)
       |""".stripMargin

  /** Shared CTE prefix replaying hyperplane-LSH candidate generation in
    * DuckDB — a bit-exact port of [[graft.functions.HashKernels]]'
    * `hyperplaneSig` portability contract (md5-derived Rademacher ±1
    * signs; components quantized `floor(v·2^24 + 0.5)`; signature bit p
    * = [Σ sign·q ≥ 0], all 64-bit integer arithmetic). Ends with
    * `cand(query_id, neighbor_id)` = pairs sharing a bucket at hamming
    * ≤ `hamming` in ANY of the `nTables` tables (XOR-mask multi-probe ≡
    * a bit_count(xor) band join), queries = vec_id < 20, no trailing
    * comma.
    */
  private def AnnLshCandidateCte(
      nTables: Int, nPlanes: Int, hamming: Int): String =
    s"""WITH signs AS (
       |  SELECT t.t, p.p, i.i,
       |         CASE WHEN ((strpos('0123456789abcdef',
       |                substring(md5('hp:' || (42 + t.t) || ':' || p.p || ':' || (i.i // 128)),
       |                  ((i.i % 128) // 4) + 1, 1)) - 1)
       |              >> (3 - (i.i % 4))) & 1 = 1 THEN 1 ELSE -1 END AS s
       |  FROM range($nTables) t(t), range($nPlanes) p(p), range(64) i(i)),
       |qd AS (
       |  SELECT vec_id, i.i AS i,
       |         CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 16777216.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, range(64) i(i)),
       |bits AS (
       |  SELECT vec_id, t, p, CASE WHEN sum(s * q) >= 0 THEN 1 ELSE 0 END AS b
       |  FROM qd JOIN signs ON qd.i = signs.i GROUP BY 1, 2, 3),
       |sigs AS (
       |  SELECT vec_id, t, CAST(sum(b * (1 << p)) AS BIGINT) AS sig
       |  FROM bits GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM sigs q JOIN sigs c
       |    ON q.t = c.t AND bit_count(xor(q.sig, c.sig)) <= $hamming
       |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)""".stripMargin

  /** Shared CTE prefix replaying the PORTABLE IVF front half in DuckDB
    * — a bit-exact port of Similarity.ivfCellsAndRankedProbes' r9
    * portability contract: components quantized floor(v·2^20 + 0.5);
    * fit draw = md5("ivffit:"+id) hex prefix < `fitThrHex`; init = the
    * `numCells` sample vectors of smallest (md5("ivf:"+id), id); TWO
    * unrolled integer Lloyd rounds over the sample (argmin ties →
    * smallest cell via the min(dist·1024+cell) encoding, truncating
    * `//` centroid updates, empty cells carry over — the q_semdedup
    * pattern); final assignment of ALL corpus rows keeping the argmin
    * DISTANCE (decoded `//1024`) for the radius statistic; r_cell² =
    * the ceil(0.9·n)-th smallest member d2 (exact integer
    * rank-select); probe order = (max(0, √d2q − √r²) ASC, d2q ASC,
    * cell ASC). Ends with `cand(query_id, neighbor_id, rn)` = corpus
    * rows of every probed cell up to rank `maxRn`, queries = vec_id <
    * 20, no trailing comma.
    */
  /** Fit-cap predicate pieces interpolated into the three ANN fit CTEs
    * below, so the oracle shares ONE constant with the engine
    * ([[Similarity.MaxFitSample]], r10 advisory): a future cap change
    * cannot silently break the bit-for-bit replay exactly where the cap
    * engages. Threshold = the FitCapCheck-proven md5 8-hex draw,
    * (cap · 2^32) // cnt, zero-padded to 8 hex digits.
    */
  private val FitCap: Long = Similarity.MaxFitSample
  private val FitCapThr: String =
    s"lpad(printf('%x', greatest(1, ($FitCap * ${1L << 32}) // cnt)), 8, '0')"

  private def AnnIvfCandidateCte(
      numCells: Int, maxRn: Int, fitThrHex: String): String =
    s"""WITH qd AS (
       |  SELECT vec_id, i.i AS i,
       |         CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, range(64) i(i)),
       |fit0 AS (SELECT vec_id FROM embeddings
       |        WHERE substring(md5('ivffit:' || vec_id), 1, 2) < '$fitThrHex'),
       |fitn AS (SELECT count(*) AS cnt FROM fit0),
       |fit AS (SELECT vec_id FROM fit0, fitn
       |        WHERE cnt <= $FitCap
       |           OR substring(md5('fitcap:' || vec_id), 1, 8)
       |              < $FitCapThr),
       |init AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id,
       |           CAST(row_number() OVER (ORDER BY md5('ivf:' || vec_id), CAST(vec_id AS VARCHAR)) - 1 AS INT) AS cell
       |    FROM fit)
       |  WHERE cell < $numCells),
       |c0 AS (SELECT init.cell, qd.i, qd.q AS c FROM init JOIN qd USING (vec_id)),
       |d1 AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
       |       FROM qd JOIN fit USING (vec_id) JOIN c0 c ON qd.i = c.i GROUP BY 1, 2),
       |a1 AS (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell
       |       FROM d1 GROUP BY 1),
       |s1 AS (SELECT a1.cell, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
       |       FROM a1 JOIN qd USING (vec_id) GROUP BY 1, 2),
       |c1 AS (SELECT c0.cell, c0.i, coalesce(s1.s // s1.n, c0.c) AS c
       |       FROM c0 LEFT JOIN s1 ON s1.cell = c0.cell AND s1.i = c0.i),
       |d2_ AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
       |        FROM qd JOIN fit USING (vec_id) JOIN c1 c ON qd.i = c.i GROUP BY 1, 2),
       |a2 AS (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell
       |       FROM d2_ GROUP BY 1),
       |s2 AS (SELECT a2.cell, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
       |       FROM a2 JOIN qd USING (vec_id) GROUP BY 1, 2),
       |c2 AS (SELECT c1.cell, c1.i, coalesce(s2.s // s2.n, c1.c) AS c
       |       FROM c1 LEFT JOIN s2 ON s2.cell = c1.cell AND s2.i = c1.i),
       |dfin AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
       |         FROM qd JOIN c2 c ON qd.i = c.i GROUP BY 1, 2),
       |af AS (SELECT vec_id,
       |              CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell,
       |              CAST(min(dist::HUGEINT * 1024 + cell) // 1024 AS BIGINT) AS d2
       |       FROM dfin GROUP BY 1),
       |cellcnt AS (SELECT cell, count(*) AS n FROM af GROUP BY 1),
       |radii AS (
       |  SELECT cell, d2 AS r2 FROM (
       |    SELECT af.cell, af.d2, c.n,
       |           row_number() OVER (PARTITION BY af.cell ORDER BY af.d2) AS rn
       |    FROM af JOIN cellcnt c USING (cell))
       |  WHERE rn = (n * 9 + 9) // 10),
       |qprobe AS (
       |  SELECT qd.vec_id AS query_id, c2.cell,
       |         CAST(sum((qd.q - c2.c) * (qd.q - c2.c)) AS BIGINT) AS d2q
       |  FROM qd JOIN c2 ON c2.i = qd.i
       |  WHERE qd.vec_id < 20 GROUP BY 1, 2),
       |probes AS (
       |  SELECT query_id, cell, rn FROM (
       |    SELECT p.query_id, p.cell,
       |           row_number() OVER (PARTITION BY p.query_id ORDER BY
       |             greatest(0.0, sqrt(CAST(p.d2q AS DOUBLE)) - sqrt(CAST(coalesce(r.r2, 0) AS DOUBLE))),
       |             p.d2q, p.cell) AS rn
       |    FROM qprobe p LEFT JOIN radii r USING (cell))
       |  WHERE rn <= $maxRn),
       |cand AS (
       |  SELECT p.query_id, af.vec_id AS neighbor_id, p.rn
       |  FROM af JOIN probes p USING (cell)
       |  WHERE af.vec_id <> p.query_id)""".stripMargin

  /** Corpus-fraction re-rank shortlist for the ANN operating points.
    * The r9 scaling record (bench_baselines/r09_ann_shortlist_scaling
    * .json) measured recall ~invariant in the shortlist's corpus
    * FRACTION while any fixed absolute width collapses (0.89 → 0.24 at
    * 10×) — and the r13 k=1000 recall gate caught exactly that at 2M
    * vectors: IVF/PQ recall 0.15-0.17 at the published small-corpus
    * widths. S = max(base, N/20): the published operating point at the
    * driver's oracle scales (N/20 ≤ base there and the adaptive DuckDB
    * replays compute the same max), 5% of the corpus beyond — the
    * fraction the r9 curve holds recall 0.87-0.93 across 100× growth.
    * N is the RELATION's count (post table-sample), so the oracle's
    * `greatest(base, count(*) // 20)` over its identically-sampled
    * view yields the identical value. Cost: one count job per ANN
    * query plus queries×S exact re-ranks — linear in the corpus, the
    * price of recall on isotropic data (see Similarity's scaladoc).
    * The fixed-width CURVE queries (q_ann_ivfpq_sweep/_grid, E135)
    * deliberately keep their published literals — they chart the
    * operating surface; these are the operating points.
    */
  /** The corpus pipeline's enriched + filtered corpus (three regex
    * kernels per document), session-shared via [[graft.ops.PairFunnel]]
    * (r16): q_corpus_pipeline and q_provenance run the IDENTICAL
    * enrich+filter — each previously staged its own copy per query,
    * paying the regex pass twice per session. The shared frame is one
    * checkpoint instance, so the downstream funnel keyed on its plan
    * is also shared between the two consumers.
    */
  private def enrichedCorpus(s: SparkSession, dir: String) =
    graft.ops.PairFunnel.sharedBuild(Tables.documents(s, dir),
      "enrich", dir, "doc_id", "text", Seq("en", "q5000")) {
      Tables.roundRobinSpread(Tables.documents(s, dir)).select(
          col("doc_id"), col("text"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
        .filter(TextAnalysis.langIdHeuristic(col("text")) === "en" &&
          col("quality") >= 0.5)
    }

  /** r16: the count comes from the parquet footers (driver metadata,
    * no job) instead of `e.count()` — six ANN queries each scheduled a
    * count stage just to size their shortlist. Sampled-oracle mode is
    * handled inside parquetRowCount (real count of the sampled view).
    */
  private def fractionRerank(s: SparkSession, dir: String, base: Int): Int =
    math.max(base, (Tables.parquetRowCount(s, dir, "embeddings") / 20L).toInt)

  /** The ANN family's query set, exact qrels and PQ fit parameters,
    * declared once: every consumer builds through them, so the
    * session-shared fits [[annPrefetch]] warms are exactly the ones
    * the consumers look up.
    */
  private def annQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
  private def annQrels(e: DataFrame): DataFrame =
    Similarity.bruteForceTopKShared(
      e, "vec_id", "embedding", annQueries(e), "qid", "qv", k = 5)
  private val AnnPqM = 8
  private val AnnPqCodebook = 16
  private val AnnPqFitFraction = 0.5
  private val AnnIvfPqCells = 16

  /** ANN family fit overlap (r16 verdict item 5, guide §2.6 "overlap
    * independent jobs"): the exact qrels, the PQ codebook and the
    * IVF+PQ codebook pair are DISJOINT lineages that would otherwise
    * build strictly sequentially inside their first consumers' timed
    * regions. q_ann_ivf (the family's first query in any alphabetical
    * run) starts them as background [[graft.ops.SharedBuilds]] builds,
    * overlapping each other and its own IVF fit; the later consumers
    * find them memoized. Bench attributes the builds to the triggering
    * query (shared_builds) and publishes any failure
    * (shared_build_failures); a failed build is not memoized, so its
    * consumer rebuilds under the memo lock.
    */
  private def annPrefetch(s: SparkSession, dir: String): Unit = {
    val e = Tables.embeddings(s, dir)
    SharedBuilds.inBackground("ann-qrels") { annQrels(e); () }
    SharedBuilds.inBackground("ann-pqcb") {
      Similarity.buildPqIndex(e, "vec_id", "embedding", m = AnnPqM,
        codebookSize = AnnPqCodebook, fitFraction = AnnPqFitFraction); ()
    }
    SharedBuilds.inBackground("ann-ivfpqcb") {
      Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
        numCells = AnnIvfPqCells, m = AnnPqM, codebookSize = AnnPqCodebook,
        fitFraction = AnnPqFitFraction); ()
    }
  }

  /** The DuckDB mirror of [[fractionRerank]] as a SQL scalar. */
  private def fractionRerankSql(base: Int): String =
    s"greatest($base, (SELECT count(*) FROM embeddings) // 20)"

  /** Appends the integer-Rademacher-sketch shortlist replay to
    * [[AnnIvfCandidateCte]]: sketch components quantized
    * floor(v·2^16 + 0.5), 32 md5-derived ±1 planes (seed 7043 =
    * q_ann_ivf's 42 + 7001 — HashKernels.radSketchQ's contract), sketch
    * cosine = exact-integer cosine rounded 9 dp, per-query top
    * `rerank` by (sketch cosine DESC, neighbor_id ASC). Ends with
    * `shortlist(query_id, neighbor_id)`, no trailing comma.
    */
  private def AnnIvfShortlistCte(
      numCells: Int, nProbe: Int, fitThrHex: String,
      sketchDim: Int, sketchSeed: Long, rerank: String): String =
    AnnIvfCandidateCte(numCells, nProbe, fitThrHex) +
    s""",
       |ssigns AS (
       |  SELECT p.p, i.i,
       |         CASE WHEN ((strpos('0123456789abcdef',
       |                substring(md5('hp:$sketchSeed:' || p.p || ':' || (i.i // 128)),
       |                  ((i.i % 128) // 4) + 1, 1)) - 1)
       |              >> (3 - (i.i % 4))) & 1 = 1 THEN 1 ELSE -1 END AS s
       |  FROM range($sketchDim) p(p), range(64) i(i)),
       |q16 AS (
       |  SELECT vec_id, i.i AS i,
       |         CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 65536.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, range(64) i(i)),
       |sk AS (SELECT vec_id, p, CAST(sum(s * q) AS BIGINT) AS v
       |       FROM q16 JOIN ssigns ON q16.i = ssigns.i GROUP BY 1, 2),
       |skn AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM sk GROUP BY 1),
       |skdot AS (
       |  SELECT c.query_id, c.neighbor_id, CAST(sum(a.v * b.v) AS BIGINT) AS dot
       |  FROM cand c JOIN sk a ON a.vec_id = c.neighbor_id
       |              JOIN sk b ON b.vec_id = c.query_id AND b.p = a.p
       |  GROUP BY 1, 2),
       |shortlist AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT sd.query_id, sd.neighbor_id,
       |           row_number() OVER (PARTITION BY sd.query_id ORDER BY
       |             round(CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0.0
       |                        ELSE CAST(dot AS DOUBLE)
       |                             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) END,
       |                   9) DESC, sd.neighbor_id) AS rn
       |    FROM skdot sd JOIN skn na ON na.vec_id = sd.neighbor_id
       |                  JOIN skn nb ON nb.vec_id = sd.query_id)
       |  WHERE rn <= ($rerank))""".stripMargin

  /** Shared CTE prefix computing the PORTABLE unit-sphere quantization
    * `nq(vec_id, i, x)` — a bit-exact DuckDB port of
    * [[graft.functions.HashKernels.quantNorm20]]: q = floor(v·2^20 +
    * 0.5), n2 = Σq² (exact BIGINT), x = floor(q·2^20/√n2 + 0.5) (one
    * correctly-rounded sqrt + division over exact doubles). Starts the
    * WITH clause; ends with a trailing comma.
    */
  private val AnnNqCte: String =
    """WITH qd AS MATERIALIZED (
      |  SELECT vec_id, i.i AS i,
      |         CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
      |  FROM embeddings, range(64) i(i)),
      |nrm AS MATERIALIZED (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2 FROM qd GROUP BY 1),
      |nq AS MATERIALIZED (
      |  SELECT qd.vec_id, qd.i,
      |         CASE WHEN nrm.n2 = 0 THEN 0
      |              ELSE CAST(floor(qd.q * 1048576.0 / sqrt(CAST(nrm.n2 AS DOUBLE)) + 0.5) AS BIGINT)
      |         END AS x
      |  FROM qd JOIN nrm USING (vec_id)),
      |""".stripMargin

  /** Generated integer-Lloyd rounds replaying
    * [[graft.ops.Similarity.fitPqCodebookQ]]: from init `{tag}c0(s, j,
    * d, c)` over subvector rows `sv(vec_id, s, d, x)`, each round is
    * assignment (exact BIGINT argmin; ties → smallest j via the
    * `min(dist·kk + j)` encoding — dist ≤ dsub·2^44 so dist·kk ≪ 2^63)
    * then a TRUNCATING `//` centroid update with empty codewords
    * carried over (the q_semdedup / q_ann_ivf pattern). Emits `iters`
    * round blocks, each ending with a trailing comma; the final
    * centroid table is `{tag}c{iters}`.
    */
  private def lloydRoundsSql(tag: String, sv: String, kk: Int, iters: Int): String =
    (1 to iters).map { r =>
      val prev = s"${tag}c${r - 1}"
      s"""${tag}d$r AS MATERIALIZED (
         |  SELECT sv.vec_id, sv.s, c.j, CAST(sum((sv.x - c.c) * (sv.x - c.c)) AS BIGINT) AS dist
         |  FROM $sv sv JOIN $prev c ON c.s = sv.s AND c.d = sv.d GROUP BY 1, 2, 3),
         |${tag}a$r AS MATERIALIZED (
         |  SELECT vec_id, s, CAST(min(dist * $kk + j) % $kk AS INT) AS j
         |  FROM ${tag}d$r GROUP BY 1, 2),
         |${tag}s$r AS MATERIALIZED (
         |  SELECT a.s, a.j, sv.d, CAST(sum(sv.x) AS BIGINT) AS sm, count(*) AS n
         |  FROM ${tag}a$r a JOIN $sv sv ON sv.vec_id = a.vec_id AND sv.s = a.s
         |  GROUP BY 1, 2, 3),
         |${tag}c$r AS MATERIALIZED (
         |  SELECT c.s, c.j, c.d, coalesce(s.sm // s.n, c.c) AS c
         |  FROM $prev c LEFT JOIN ${tag}s$r s
         |    ON s.s = c.s AND s.j = c.j AND s.d = c.d),
         |""".stripMargin
    }.mkString

  /** Shared CTE prefix replaying the PORTABLE PQ funnel of
    * [[graft.ops.Similarity.pqTopK]] end-to-end: quantNorm20 vectors,
    * md5 fit draw ("pqfit" < `fitThrHex`), md5-rank init ("pqinit"),
    * `iters` integer-Lloyd rounds per subspace, integer codes, the
    * per-query integer ADC table, and the top-`rerank` shortlist by
    * (adc DESC, neighbor_id). Ends with `cand(query_id, neighbor_id)`,
    * queries = vec_id < 20, no trailing comma.
    */
  private def AnnPqCandidateCte(
      m: Int, k: Int, iters: Int, rerank: String, fitThrHex: String): String = {
    val dsub = 64 / m
    AnnNqCte +
    s"""pfit0 AS MATERIALIZED (SELECT vec_id FROM embeddings
       |         WHERE substring(md5('pqfit:' || vec_id), 1, 2) < '$fitThrHex'),
       |pfitn AS MATERIALIZED (SELECT count(*) AS cnt FROM pfit0),
       |pfit AS MATERIALIZED (
       |  SELECT vec_id FROM pfit0, pfitn
       |  WHERE cnt <= $FitCap
       |     OR substring(md5('fitcap:' || vec_id), 1, 8)
       |        < $FitCapThr),
       |pford AS MATERIALIZED (SELECT vec_id,
       |                 row_number() OVER (ORDER BY md5('pqinit:' || vec_id), CAST(vec_id AS VARCHAR)) AS rk
       |          FROM pfit),
       |pall AS MATERIALIZED (SELECT vec_id, CAST(i // $dsub AS INT) AS s,
       |                CAST(i % $dsub AS INT) AS d, x FROM nq),
       |psv AS MATERIALIZED (SELECT pall.* FROM pall JOIN pfit USING (vec_id)),
       |pc0 AS MATERIALIZED (SELECT sv.s, CAST(f.rk - 1 AS INT) AS j, sv.d, sv.x AS c
       |        FROM psv sv JOIN pford f ON f.vec_id = sv.vec_id WHERE f.rk <= $k),
       |""".stripMargin +
    lloydRoundsSql("p", "psv", k, iters) +
    s"""pcd AS MATERIALIZED (
       |  SELECT sv.vec_id, sv.s, c.j, CAST(sum((sv.x - c.c) * (sv.x - c.c)) AS BIGINT) AS dist
       |  FROM pall sv JOIN pc$iters c ON c.s = sv.s AND c.d = sv.d GROUP BY 1, 2, 3),
       |pcode AS MATERIALIZED (SELECT vec_id, s, CAST(min(dist * $k + j) % $k AS INT) AS j
       |          FROM pcd GROUP BY 1, 2),
       |pqt AS MATERIALIZED (
       |  SELECT sv.vec_id AS query_id, c.s, c.j, CAST(sum(sv.x * c.c) AS BIGINT) AS t
       |  FROM pall sv JOIN pc$iters c ON c.s = sv.s AND c.d = sv.d
       |  WHERE sv.vec_id < 20 GROUP BY 1, 2, 3),
       |padc AS MATERIALIZED (
       |  SELECT q.query_id, co.vec_id AS neighbor_id, CAST(sum(q.t) AS BIGINT) AS adc
       |  FROM pcode co JOIN pqt q ON q.s = co.s AND q.j = co.j
       |  WHERE co.vec_id <> q.query_id GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                ORDER BY adc DESC, neighbor_id) AS rn
       |    FROM padc)
       |  WHERE rn <= ($rerank))""".stripMargin
  }

  /** Shared CTE prefix replaying the PORTABLE IVF+PQ funnel of
    * [[graft.ops.Similarity.buildIvfPqIndex]] + ivfPqProbes + the ADC
    * scan: coarse integer-Lloyd cells over quantNorm20 vectors (the
    * degenerate one-subspace fit, md5 draw "ivfpqfit"/order
    * "ivfpqinit"), exact-integer residuals, the residual PQ codebook
    * trained on the SAME sample, integer probe ranking (d2 ASC, cell
    * ASC) and the decomposed integer ADC score dot(q, cent) +
    * Σ table[s][code_s]. Ends with `cand(query_id, neighbor_id, rn,
    * adc)` — rn is the probe (cell) rank so sweep tails can slice by
    * depth; queries = vec_id < 20, no trailing comma.
    */
  private def AnnIvfPqCandidateCte(
      numCells: Int, m: Int, k: Int, iters: Int, fitThrHex: String): String = {
    val dsub = 64 / m
    AnnNqCte +
    s"""vfit0 AS MATERIALIZED (SELECT vec_id FROM embeddings
       |         WHERE substring(md5('ivfpqfit:' || vec_id), 1, 2) < '$fitThrHex'),
       |vfitn AS MATERIALIZED (SELECT count(*) AS cnt FROM vfit0),
       |vfit AS MATERIALIZED (
       |  SELECT vec_id FROM vfit0, vfitn
       |  WHERE cnt <= $FitCap
       |     OR substring(md5('fitcap:' || vec_id), 1, 8)
       |        < $FitCapThr),
       |vford AS MATERIALIZED (SELECT vec_id,
       |                 row_number() OVER (ORDER BY md5('ivfpqinit:' || vec_id), CAST(vec_id AS VARCHAR)) AS rk
       |          FROM vfit),
       |gall AS MATERIALIZED (SELECT vec_id, 0 AS s, i AS d, x FROM nq),
       |gsv AS MATERIALIZED (SELECT gall.* FROM gall JOIN vfit USING (vec_id)),
       |gc0 AS MATERIALIZED (SELECT sv.s, CAST(f.rk - 1 AS INT) AS j, sv.d, sv.x AS c
       |        FROM gsv sv JOIN vford f ON f.vec_id = sv.vec_id WHERE f.rk <= $numCells),
       |""".stripMargin +
    lloydRoundsSql("g", "gsv", numCells, iters) +
    s"""gcd AS MATERIALIZED (
       |  SELECT sv.vec_id, c.j, CAST(sum((sv.x - c.c) * (sv.x - c.c)) AS BIGINT) AS dist
       |  FROM gall sv JOIN gc$iters c ON c.d = sv.d GROUP BY 1, 2),
       |gasg AS MATERIALIZED (SELECT vec_id, CAST(min(dist * $numCells + j) % $numCells AS INT) AS cell
       |         FROM gcd GROUP BY 1),
       |res AS MATERIALIZED (
       |  SELECT nq.vec_id, CAST(nq.i // $dsub AS INT) AS s,
       |         CAST(nq.i % $dsub AS INT) AS d, nq.x - c.c AS x
       |  FROM nq JOIN gasg ON gasg.vec_id = nq.vec_id
       |          JOIN gc$iters c ON c.j = gasg.cell AND c.d = nq.i),
       |rsv AS MATERIALIZED (SELECT res.* FROM res JOIN vfit USING (vec_id)),
       |rc0 AS MATERIALIZED (SELECT sv.s, CAST(f.rk - 1 AS INT) AS j, sv.d, sv.x AS c
       |        FROM rsv sv JOIN vford f ON f.vec_id = sv.vec_id WHERE f.rk <= $k),
       |""".stripMargin +
    lloydRoundsSql("r", "rsv", k, iters) +
    s"""rcd AS MATERIALIZED (
       |  SELECT sv.vec_id, sv.s, c.j, CAST(sum((sv.x - c.c) * (sv.x - c.c)) AS BIGINT) AS dist
       |  FROM res sv JOIN rc$iters c ON c.s = sv.s AND c.d = sv.d GROUP BY 1, 2, 3),
       |rcode AS MATERIALIZED (SELECT vec_id, s, CAST(min(dist * $k + j) % $k AS INT) AS j
       |          FROM rcd GROUP BY 1, 2),
       |qsv AS MATERIALIZED (SELECT vec_id, CAST(i // $dsub AS INT) AS s,
       |               CAST(i % $dsub AS INT) AS d, x FROM nq WHERE vec_id < 20),
       |rqt AS MATERIALIZED (
       |  SELECT sv.vec_id AS query_id, c.s, c.j, CAST(sum(sv.x * c.c) AS BIGINT) AS t
       |  FROM qsv sv JOIN rc$iters c ON c.s = sv.s AND c.d = sv.d GROUP BY 1, 2, 3),
       |radc AS MATERIALIZED (
       |  SELECT q.query_id, co.vec_id AS neighbor_id, CAST(sum(q.t) AS BIGINT) AS tsum
       |  FROM rcode co JOIN rqt q ON q.s = co.s AND q.j = co.j GROUP BY 1, 2),
       |qcell AS MATERIALIZED (
       |  SELECT nq.vec_id AS query_id, c.j AS cell,
       |         CAST(sum((nq.x - c.c) * (nq.x - c.c)) AS BIGINT) AS d2,
       |         CAST(sum(nq.x * c.c) AS BIGINT) AS dot_qc
       |  FROM nq JOIN gc$iters c ON c.d = nq.i
       |  WHERE nq.vec_id < 20 GROUP BY 1, 2),
       |probes AS MATERIALIZED (
       |  SELECT query_id, cell, dot_qc,
       |         row_number() OVER (PARTITION BY query_id ORDER BY d2, cell) AS rn
       |  FROM qcell),
       |cand AS MATERIALIZED (
       |  SELECT p.query_id, g.vec_id AS neighbor_id, p.rn, p.dot_qc + a.tsum AS adc
       |  FROM gasg g JOIN probes p ON p.cell = g.cell
       |              JOIN radc a ON a.neighbor_id = g.vec_id AND a.query_id = p.query_id
       |  WHERE g.vec_id <> p.query_id)""".stripMargin
  }

  /** Shared CTE prefix replaying the corpus curation pipeline in
    * DuckDB — enrichment (lang-id, quality, token count), the kept set,
    * exact string 5-gram Jaccard near-dup pairs, and the recursive
    * reachability closure. `q_corpus_pipeline` appends the survivor
    * aggregate; `q_provenance` appends the per-survivor lineage record.
    * Ends after the `reach` CTE with NO trailing comma.
    */
  private val CurationPipelineCte: String = {
    val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
    val hitDefs = TextAnalysis.LangMarkers.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS h_$lang"
    }.mkString(",\n       ")
    val langCase = TextAnalysis.LangMarkers.map { case (lang, _) =>
      s"WHEN h_$lang = gmax AND gmax > 0 THEN '$lang'"
    }.mkString(" ")
    s"""WITH RECURSIVE
       |raw AS (SELECT doc_id, text, source,
       |       CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
       |       CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits,
       |       $hitDefs
       |FROM documents),
       |enr AS (SELECT doc_id, text, source,
       |       CASE $langCase ELSE 'und' END AS lang_id,
       |       CAST(CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
       |             + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
       |             + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
       |                         AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
       |             - least(CASE WHEN length(text) = 0 THEN 0.0
       |                          ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
       |             ) * 10000.0 + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS quality,
       |       CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS BIGINT) AS n_tokens
       |FROM (SELECT *, greatest(h_en, h_es, h_de, h_fr) AS gmax FROM raw)),
       |kept AS (SELECT * FROM enr WHERE lang_id = 'en' AND quality >= 0.5),
       |grams AS (SELECT DISTINCT doc_id, substr(text, i, 5) AS g
       |          FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 3, 2))) AS i FROM kept)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
       |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (SELECT ia, ib FROM inter
       |          JOIN sizes sa ON sa.doc_id = ia
       |          JOIN sizes sb ON sb.doc_id = ib
       |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
       |edges AS (SELECT ia AS s, ib AS d FROM pairs UNION SELECT ib, ia FROM pairs),
       |reach AS (SELECT s, d FROM edges
       |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
       |""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // bounded-error sketch verdicts (r8): the oracle computes the EXACT
    // statistic and asserts the query's within-bound verdict is TRUE —
    // the sketch value itself is engine-specific and stays un-oracled
    "q_approx_distinct" ->
      """SELECT count(*) AS n_orders,
        |       count(DISTINCT o_custkey) AS exact_customers,
        |       TRUE AS within_bound
        |FROM orders""".stripMargin,

    "q_approx_quantile" ->
      """SELECT count(*) AS n,
        |       quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5)
        |         AS median_cents,
        |       TRUE AS within_bound
        |FROM lineitem""".stripMargin,

    "q_pruned_scan" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE l_discount > 0.05",

    "q_dropna_any" ->
      """SELECT event_id, event_type, value FROM (
        |  SELECT event_id, ts, user_id,
        |         CASE WHEN user_id % 101 = 0 THEN NULL ELSE event_type END AS event_type,
        |         CASE WHEN event_id % 97 = 0 THEN NULL
        |              WHEN event_id % 89 = 0 THEN 'NaN'::DOUBLE
        |              ELSE value END AS value,
        |         props
        |  FROM events)
        |WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
        |  AND props IS NOT NULL""".stripMargin,

    "q_change_per_entity" -> changeSql,

    "q_filter_or" ->
      """SELECT c_custkey, c_name, n_name, c_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name = 'NATION_1' OR n_name = 'NATION_3' OR n_name = 'NATION_7'""".stripMargin,

    "q_topk_desc" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5",
    "q_topk_asc" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice ASC, o_orderkey LIMIT 5",

    "q_filter_count" ->
      s"SELECT CAST(count(*) AS BIGINT) AS n_reduced FROM ($changeSql) WHERE is_reduced",

    "q_agg_minmax" ->
      """SELECT l_returnflag, l_linestatus,
        |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_sum_by_flag" ->
      s"""SELECT is_reduced, CAST(count(*) AS BIGINT) AS n_entities,
         |       CAST(SUM(CAST(round(change * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_change
         |FROM ($changeSql) GROUP BY is_reduced""".stripMargin,

    "q_label_agg" ->
      """SELECT c_nationkey, min(c_acctbal) AS min_v, max(c_acctbal) AS max_v,
        |       CAST(min(c_acctbal) AS VARCHAR) || ' - ' || CAST(max(c_acctbal) AS VARCHAR) AS label
        |FROM customer GROUP BY c_nationkey""".stripMargin,

    "q_join_enrich" ->
      """SELECT r_name AS region_name, n_name AS nation_name,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q_row_number" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS seq
        |FROM orders""".stripMargin,

    "q_distinct_rows" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    // full integer-Lloyd replay of Clustering.portableFitAssign over
    // the change pipeline: md5-rank init, 3 rounds of exact-int argmin
    // (ties → smallest cell via the min(dist·5+cell) encoding) +
    // truncating `//` updates with empty cells carried over
    "q_kmeans_portable" -> {
      val rounds = (1 to 3).map { r =>
        s"""d$r AS (SELECT f.id, c.cell, CAST(sum((f.x - c.c) * (f.x - c.c)) AS BIGINT) AS dist
           |        FROM feat f JOIN kc${r - 1} c ON c.i = f.i GROUP BY 1, 2),
           |a$r AS (SELECT id, CAST(min(dist::HUGEINT * 5 + cell) % 5 AS INT) AS cell
           |        FROM d$r GROUP BY 1),
           |s$r AS (SELECT a.cell, f.i, CAST(sum(f.x) AS BIGINT) AS s, count(*) AS n
           |        FROM a$r a JOIN feat f USING (id) GROUP BY 1, 2),
           |kc$r AS (SELECT c.cell, c.i, coalesce(s.s // s.n, c.c) AS c
           |         FROM kc${r - 1} c LEFT JOIN s$r s ON s.cell = c.cell AND s.i = c.i),
           |""".stripMargin
      }.mkString
      s"""WITH bb AS (
         |  SELECT o_custkey AS id, CAST(v1_cents - v0_cents AS BIGINT) AS cc,
         |         CASE WHEN v1_cents <= v0_cents THEN 1 ELSE 0 END AS rr
         |  FROM (SELECT o_custkey,
         |               SUM(CASE WHEN year(o_orderdate) = $P0 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS v0_cents,
         |               SUM(CASE WHEN year(o_orderdate) = $P1 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS v1_cents
         |        FROM orders WHERE year(o_orderdate) IN ($P0, $P1)
         |        GROUP BY o_custkey)
         |  WHERE v0_cents IS NOT NULL AND v1_cents IS NOT NULL),
         |feat AS (SELECT id, 0 AS i, cc AS x FROM bb
         |         UNION ALL SELECT id, 1 AS i, CAST(rr AS BIGINT) AS x FROM bb),
         |rk AS (SELECT id, CAST(row_number() OVER (ORDER BY md5('km:' || id), CAST(id AS VARCHAR)) - 1 AS INT) AS cell
         |       FROM bb),
         |kc0 AS (SELECT rk.cell, f.i, f.x AS c FROM rk JOIN feat f USING (id) WHERE rk.cell < 5),
         |""".stripMargin + rounds +
      s"""dfin AS (SELECT f.id, c.cell, CAST(sum((f.x - c.c) * (f.x - c.c)) AS BIGINT) AS dist
         |         FROM feat f JOIN kc3 c ON c.i = f.i GROUP BY 1, 2),
         |af AS (SELECT id, CAST(min(dist::HUGEINT * 5 + cell) % 5 AS INT) AS cluster
         |       FROM dfin GROUP BY 1)
         |SELECT af.cluster, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(bb.rr) AS BIGINT) AS n_reduced,
         |       min(bb.cc) AS min_change_cents, max(bb.cc) AS max_change_cents
         |FROM af JOIN bb USING (id) GROUP BY 1""".stripMargin
    },

    "q_yoy_change" ->
      """SELECT o_orderpriority, o_year, revenue,
        |       LAG(revenue) OVER (PARTITION BY o_orderpriority ORDER BY o_year) AS prev_revenue,
        |       CAST(round((revenue - LAG(revenue) OVER (PARTITION BY o_orderpriority ORDER BY o_year)) * 100) AS BIGINT) / 100.0 AS yoy_change
        |FROM (SELECT o_orderpriority, year(o_orderdate) AS o_year,
        |             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |      FROM orders GROUP BY o_orderpriority, year(o_orderdate))""".stripMargin,

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(qty) AS BIGINT) AS sum_qty,
        |       CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_base_price,
        |       CAST(sum(cents * (100 - dc)) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |       CAST(sum(cents * (100 - dc) * (100 + tc)) AS DOUBLE) / 1000000.0 AS sum_charge,
        |       CAST(sum(qty) AS DOUBLE) / count(*) AS avg_qty,
        |       CAST(sum(cents) AS DOUBLE) / 100.0 / count(*) AS avg_price,
        |       CAST(sum(dc) AS DOUBLE) / 100.0 / count(*) AS avg_disc,
        |       CAST(count(*) AS BIGINT) AS count_order
        |FROM (SELECT l_returnflag, l_linestatus,
        |             CAST(l_quantity AS BIGINT) AS qty,
        |             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |             CAST(round(l_discount * 100) AS BIGINT) AS dc,
        |             CAST(round(l_tax * 100) AS BIGINT) AS tc
        |      FROM lineitem
        |      WHERE l_shipdate <= TIMESTAMP '2000-12-01')
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA' AND year(o_orderdate) = 1997
        |GROUP BY n_name""".stripMargin,

    "q_tpch_q6" ->
      """SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE year(l_shipdate) = 1997
        |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,

    "q_rollup" ->
      """SELECT COALESCE(r_name, 'ALL') AS region_name,
        |       COALESCE(n_name, 'ALL') AS nation_name,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,

    "q_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_semi_join" ->
      s"""SELECT c_custkey, c_name FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders
         |              WHERE o_custkey = c_custkey AND year(o_orderdate) = $P0)""".stripMargin,

    "q_anti_join" ->
      s"""SELECT c_custkey, c_name FROM customer
         |WHERE NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey AND year(o_orderdate) = $P0)""".stripMargin,

    "q_set_ops" ->
      s"""SELECT o_custkey, 'both' AS tag FROM (
         |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = $P0
         |  INTERSECT
         |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = $P1)
         |UNION ALL
         |SELECT o_custkey, 'only_p0' AS tag FROM (
         |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = $P0
         |  EXCEPT
         |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = $P1)""".stripMargin,

    "q_stats_exact" ->
      """SELECT n,
        |       round(CAST(sq AS DOUBLE) / n, 6) AS mean_qty,
        |       round((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n) / (n - 1), 6) AS var_qty,
        |       round(sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n) / (n - 1)), 6) AS stddev_qty,
        |       round((CAST(n AS DOUBLE) * sqd - CAST(sq AS DOUBLE) * sd)
        |             / (sqrt(CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
        |                * sqrt(CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)), 6) AS corr_qty_disc
        |FROM (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sqq,
        |             CAST(sum(d) AS BIGINT) AS sd, CAST(sum(d * d) AS BIGINT) AS sdd,
        |             CAST(sum(q * d) AS BIGINT) AS sqd
        |      FROM (SELECT CAST(l_quantity AS BIGINT) AS q,
        |                   CAST(round(l_discount * 100) AS BIGINT) AS d
        |            FROM lineitem))""".stripMargin,

    "q_moving_avg" ->
      """SELECT o_orderpriority,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
        |       CAST(sum(rev_cents) OVER w AS DOUBLE)
        |             / (count(*) OVER w) / 100.0 AS ma4
        |FROM (SELECT o_orderpriority, o_orderdate,
        |             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |      FROM orders GROUP BY o_orderpriority, o_orderdate)
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_ntile_rank" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |       CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS BIGINT) AS bal_rank,
        |       CAST(NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS quartile
        |FROM customer""".stripMargin,

    "q_salted_join" ->
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,

    "q_pivot_wide" ->
      """SELECT o_orderpriority,
        |       CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS rev_1996,
        |       CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS rev_1997,
        |       CAST(SUM(CASE WHEN year(o_orderdate) = 1998 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS rev_1998,
        |       CAST(SUM(CASE WHEN year(o_orderdate) = 1999 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS rev_1999
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_sql_agg" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH RECURSIVE
         |grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT ia, ib FROM inter
         |          JOIN sizes sa ON sa.doc_id = ia
         |          JOIN sizes sb ON sb.doc_id = ib
         |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |edges AS (SELECT ia AS s, ib AS d FROM pairs
         |          UNION SELECT ib, ia FROM pairs),
         |reach AS (SELECT s, d FROM edges
         |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         |SELECT doc_id, source FROM documents
         |WHERE NOT EXISTS (SELECT 1 FROM reach WHERE s = doc_id AND d < doc_id)""".stripMargin,

    // source-similarity replay: a BIT-EXACT DuckDB port of the
    // minhash_sig kernel itself (unlike the dedup oracles, which replay
    // exact jaccard) — 5-gram rolling hash in mod-2^64 (powers of
    // B=1000003 folded driver-side), the splitmix64 chain of
    // SimhashOracleCte, and the 64 universal-hash permutations with the
    // SAME java.util.Random(42) coefficients the engine memoizes,
    // embedded as a VALUES table. Per-source min over all grams ≡ the
    // engine's min-of-per-doc-mins (min over a union of sets).
    "q_source_similarity" -> {
      val rnd = new java.util.Random(42L)
      val as0 = Array.fill(64)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
      val bs0 = Array.fill(64)(rnd.nextInt(Int.MaxValue).toLong)
      val co = (0 until 64).map(p => s"($p, ${as0(p)}, ${bs0(p)})")
        .mkString(", ")
      val bigB = BigInt(1000003); val m64 = BigInt(2).pow(64)
      val c2 = (bigB * bigB) % m64
      val c3 = (bigB * bigB * bigB) % m64
      val c4 = (bigB * bigB * bigB * bigB) % m64
      s"""WITH co(p, a, b) AS (VALUES $co),
         |hx AS (
         |  SELECT doc_id, source, hex(encode(text)) AS hs,
         |         octet_length(encode(text)) AS nb
         |  FROM documents),
         |g AS (
         |  -- 5-byte windows over UTF-8 BYTES (hex-slice extraction): the
         |  -- engine kernel rolls over raw bytes, and the earlier
         |  -- ascii(substring(...)) form hashed CODEPOINTS — identical only
         |  -- on ASCII text (r11 adversarial fix)
         |  SELECT source,
         |         ((CAST('0x' || substring(hs, 2*i - 1, 2) AS BIGINT)::HUGEINT * $c4::HUGEINT
         |           + CAST('0x' || substring(hs, 2*i + 1, 2) AS BIGINT)::HUGEINT * $c3::HUGEINT
         |           + CAST('0x' || substring(hs, 2*i + 3, 2) AS BIGINT)::HUGEINT * $c2::HUGEINT
         |           + CAST('0x' || substring(hs, 2*i + 5, 2) AS BIGINT)::HUGEINT * 1000003
         |           + CAST('0x' || substring(hs, 2*i + 7, 2) AS BIGINT)::HUGEINT)
         |          % 18446744073709551616::HUGEINT)::UBIGINT AS h
         |  FROM hx, LATERAL (SELECT unnest(range(1, nb - 3)) AS i)
         |  UNION ALL
         |  -- texts shorter than the 5-byte window emit ONE whole-text
         |  -- shingle (the kernel's i == len-1 case); empty texts emit none
         |  SELECT source,
         |         (sum(CAST('0x' || substring(hs, 2*i - 1, 2) AS BIGINT)::HUGEINT
         |              * (CASE nb - i WHEN 0 THEN 1::HUGEINT
         |                             WHEN 1 THEN 1000003::HUGEINT
         |                             WHEN 2 THEN 1000006000009::HUGEINT
         |                             ELSE 1000009000027000027::HUGEINT END))
         |          % 18446744073709551616::HUGEINT)::UBIGINT AS h
         |  FROM (SELECT doc_id, source, hs, nb, unnest(range(1, nb + 1)) AS i
         |        FROM hx WHERE nb >= 1 AND nb < 5)
         |  GROUP BY doc_id, source),
         |m1 AS (SELECT source, ((h::HUGEINT + 11400714819323198485::HUGEINT)
         |         % 18446744073709551616::HUGEINT)::UBIGINT AS x FROM g),
         |m2 AS (SELECT source, xor(x, x >> 30) AS x FROM m1),
         |m3 AS (SELECT source, ${mulMod64("x", "13787848793156543929")} AS x FROM m2),
         |m4 AS (SELECT source, xor(x, x >> 27) AS x FROM m3),
         |m5 AS (SELECT source, ${mulMod64("x", "10723151780598845931")} AS x FROM m4),
         |xs AS (SELECT source,
         |         ((xor(x, x >> 31) & 2147483647)::BIGINT) % 2147483647 AS v
         |       FROM m5),
         |mins AS (SELECT source, p, min((a * v + b) % 2147483647) AS m
         |         FROM xs, co GROUP BY 1, 2),
         |prs AS (SELECT a.source AS source_a, b.source AS source_b,
         |               sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS n_agree
         |        FROM mins a JOIN mins b ON a.p = b.p AND a.source < b.source
         |        GROUP BY 1, 2)
         |SELECT source_a, source_b, CAST(n_agree AS BIGINT) AS n_agree,
         |       CAST(n_agree * 15625 AS BIGINT) AS est_jaccard_micro
         |FROM prs ORDER BY source_a, source_b""".stripMargin
    },

    "q_dedup_keep_best" -> {
      val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH RECURSIVE
         |grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT ia, ib FROM inter
         |          JOIN sizes sa ON sa.doc_id = ia
         |          JOIN sizes sb ON sb.doc_id = ib
         |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |edges AS (SELECT ia AS s, ib AS d FROM pairs
         |          UNION SELECT ib, ia FROM pairs),
         |reach AS (SELECT s, d FROM edges
         |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |comp AS (SELECT d.doc_id,
         |                least(d.doc_id, coalesce(min(r.d), d.doc_id)) AS root
         |         FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
         |         GROUP BY d.doc_id),
         |quality AS (
         |  SELECT doc_id,
         |         CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
         |           + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
         |           + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
         |                       AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
         |           - least(CASE WHEN length(text) = 0 THEN 0.0
         |                        ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
         |           ) * 10000.0 + 0.5) AS BIGINT) AS q_milli
         |  FROM (SELECT doc_id, text,
         |               CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
         |               CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits
         |        FROM documents)),
         |ranked AS (
         |  SELECT c.root, c.doc_id, q.q_milli,
         |         row_number() OVER (PARTITION BY c.root
         |                            ORDER BY q.q_milli DESC, c.doc_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY c.root) AS n_members
         |  FROM comp c JOIN quality q ON q.doc_id = c.doc_id)
         |SELECT doc_id, q_milli AS quality_milli,
         |       CAST(n_members AS BIGINT) AS n_members
         |FROM ranked WHERE rn = 1""".stripMargin
    },

    "q_dup_component_sizes" ->
      s"""WITH RECURSIVE
         |grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT ia, ib FROM inter
         |          JOIN sizes sa ON sa.doc_id = ia
         |          JOIN sizes sb ON sb.doc_id = ib
         |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |edges AS (SELECT ia AS s, ib AS d FROM pairs
         |          UNION SELECT ib, ia FROM pairs),
         |reach AS (SELECT s, d FROM edges
         |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |roots AS (SELECT s AS id,
         |                 least(s, min(d)) AS root
         |          FROM reach GROUP BY s),
         |csize AS (SELECT root, CAST(count(*) AS BIGINT) AS size FROM roots GROUP BY root)
         |SELECT size, CAST(count(*) AS BIGINT) AS n_components
         |FROM csize GROUP BY size""".stripMargin,

    "q_leakage_safe_split" ->
      s"""WITH RECURSIVE
         |grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT ia, ib FROM inter
         |          JOIN sizes sa ON sa.doc_id = ia
         |          JOIN sizes sb ON sb.doc_id = ib
         |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |edges AS (SELECT ia AS s, ib AS d FROM pairs
         |          UNION SELECT ib, ia FROM pairs),
         |reach AS (SELECT s, d FROM edges
         |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |roots AS (SELECT s AS id, least(s, min(d)) AS root
         |          FROM reach GROUP BY s),
         |labs AS (SELECT d.doc_id, coalesce(r.root, d.doc_id) AS gk
         |         FROM documents d LEFT JOIN roots r ON r.id = d.doc_id),
         |sp AS (SELECT gk,
         |              CASE WHEN b < 80 THEN 'train'
         |                   WHEN b < 90 THEN 'val'
         |                   ELSE 'test' END AS split
         |       FROM (SELECT gk,
         |                    CAST(('0x' || substr(md5(CAST(gk AS VARCHAR)), 1, 4)) AS BIGINT) % 100 AS b
         |             FROM labs))
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT gk) AS BIGINT) AS n_groups
         |FROM sp GROUP BY split""".stripMargin,

    "q_tokenizer_fertility" ->
      s"""WITH t AS (
         |  SELECT lang,
         |         CAST(CASE WHEN length(text) = 0 THEN 0
         |                   ELSE len(string_split(text, ' ')) END AS BIGINT) AS ws,
         |         CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}')) AS BIGINT) AS bp,
         |         CAST(length(text) AS BIGINT) AS ch
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(ws) AS BIGINT) AS tokens_ws,
         |       CAST(sum(bp) AS BIGINT) AS tokens_bpeish,
         |       CAST(sum(ch) AS BIGINT) AS chars,
         |       round(CAST(sum(bp) AS DOUBLE) / sum(ws), 6) AS fertility,
         |       round(CAST(sum(ch) AS DOUBLE) / sum(bp), 6) AS chars_per_token
         |FROM t GROUP BY lang""".stripMargin,

    "q_copurchase" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a ASC, part_b ASC
        |LIMIT 20""".stripMargin,

    "q_new_vs_returning" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |first AS (
        |  SELECT user_id, min(day) AS first_day FROM ev GROUP BY 1)
        |SELECT strftime(e.day, '%Y-%m-%d') AS day,
        |       CAST(sum(CASE WHEN e.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |       CAST(sum(CASE WHEN e.day <> f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
        |       CAST(count(DISTINCT CASE WHEN e.day = f.first_day
        |                                THEN e.user_id END) AS BIGINT) AS u_new
        |FROM ev e JOIN first f ON e.user_id = f.user_id
        |GROUP BY e.day""".stripMargin,

    "q_outliers" ->
      """WITH o AS (
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
        |                / CAST(n * (n - 1) AS DOUBLE))) > 2.0""".stripMargin,

    "q_active_users" ->
      """WITH ud AS (
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
        |FROM dau d JOIN wau ON wau.wday = d.day""".stripMargin,

    "q_share_of_total" ->
      """WITH rev AS (
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
        |FROM rev""".stripMargin,

    "q_transitions" ->
      """WITH seq AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "q_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT)
        |         AS trailing_7d_cents,
        |       CAST(count(*) OVER w AS BIGINT) AS n_in_window
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |             RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_unpivot" ->
      """UNPIVOT (SELECT l_orderkey, l_linenumber,
        |                CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |                CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
        |                CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
        |         FROM lineitem)
        |ON price_cents, discount_pct, tax_pct
        |INTO NAME measure VALUE value""".stripMargin,

    "q_correlated" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, price_cents
        |FROM o
        |WHERE price_cents > (SELECT avg(price_cents)
        |                     FROM o i WHERE i.o_custkey = o.o_custkey)""".stripMargin,

    "q_topk_per_group" ->
      """WITH o AS (
        |  SELECT c_nationkey, o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_nationkey
        |            ORDER BY price_cents DESC, o_orderkey ASC) AS rank
        |  FROM o)
        |SELECT c_nationkey, CAST(rank AS BIGINT) AS rank, o_orderkey, price_cents
        |FROM r WHERE rank <= 3""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS k_sum,
        |       min(CAST(props->>'k' AS INT)) AS k_min,
        |       max(CAST(props->>'k' AS INT)) AS k_max
        |FROM events GROUP BY event_type""".stripMargin,

    "q_gap_fill" ->
      """WITH daily AS (
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
        |  ON s.user_id = d.user_id AND s.day = d.day""".stripMargin,

    "q_attribution" ->
      """WITH e AS (
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
        |FROM w WHERE event_type = 'purchase'""".stripMargin,

    "q_fk_violations" ->
      """SELECT 'lineitem->orders_corrupted' AS edge,
        |       CAST(count(*) AS BIGINT) AS n_children,
        |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |FROM lineitem LEFT JOIN (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0) o
        |  ON l_orderkey = o_orderkey
        |UNION ALL
        |SELECT 'lineitem->part', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |UNION ALL
        |SELECT 'lineitem->supplier', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        |UNION ALL
        |SELECT 'orders->customer', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |UNION ALL
        |SELECT 'customer->nation', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin,

    "q_snapshot_diff" ->
      """WITH all_o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |v1 AS (SELECT * FROM all_o WHERE o_orderkey % 5 <> 0),
        |v2 AS (SELECT o_orderkey, o_orderstatus,
        |              CASE WHEN o_orderkey % 3 = 0 THEN price_cents + 100
        |                   ELSE price_cents END AS price_cents
        |       FROM all_o WHERE o_orderkey % 5 <> 1)
        |SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |            WHEN b.o_orderkey IS NULL THEN 'removed'
        |            WHEN a.price_cents <> b.price_cents
        |                 OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
        |GROUP BY 1""".stripMargin,

    "q_vector_ops" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |       round(sqrt(list_aggregate(list_transform(embedding,
        |                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 4) AS l2_norm,
        |       round(list_aggregate(list_transform(embedding,
        |                    x -> abs(CAST(x AS DOUBLE))), 'max'), 4) AS max_abs
        |FROM embeddings""".stripMargin,

    // freshness mirrored in the ms domain (epoch_ms both sides) so the
    // boundary truncation is bit-identical to Spark's unix_millis age
    "q_asof_tolerance" ->
      """WITH clicks AS (
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
        |  ON x.event_id = c.event_id""".stripMargin,

    "q_merge_upsert" ->
      """WITH all_o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |base AS (SELECT * FROM all_o WHERE o_orderkey % 3 <> 0),
        |upd AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |               price_cents + 500 AS price_cents
        |        FROM all_o WHERE o_orderkey % 2 = 0)
        |SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
        |       CASE WHEN u.o_orderkey IS NOT NULL
        |            THEN u.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
        |       CASE WHEN u.o_orderkey IS NOT NULL
        |            THEN u.price_cents ELSE b.price_cents END AS price_cents
        |FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey""".stripMargin,

    "q_scd2" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus,
        |       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |       strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
        |       lead(o_orderdate) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q_tpch_q18" ->
      """WITH huge AS (
        |  SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(l_quantity) AS BIGINT) > 250)
        |SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |       total_qty
        |FROM huge
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY price_cents DESC, o_orderkey ASC LIMIT 100""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1""".stripMargin,

    "q_tpch_q12" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY 1""".stripMargin,

    "q_tpch_q17" ->
      """WITH lip AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#12'),
        |stats AS (
        |  SELECT l_partkey, sum(qty) AS sum_qty, count(*) AS cnt
        |  FROM lip GROUP BY 1)
        |SELECT CAST(sum(cents) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
        |FROM lip JOIN stats USING (l_partkey)
        |WHERE qty * 5 * cnt < sum_qty""".stripMargin,

    "q_tpch_q19" ->
      """SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
        |         AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 21)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 45
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q_pagerank" ->
      """WITH edges AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM (SELECT * FROM lineitem
        |        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |          AND l_shipdate < TIMESTAMP '1999-01-01') a
        |  JOIN (SELECT * FROM lineitem
        |        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |          AND l_shipdate < TIMESTAMP '1999-01-01') b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |i1 AS (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS in_sum
        |       FROM edges e JOIN r0 r ON e.src = r.node
        |       JOIN outdeg o ON e.src = o.src GROUP BY 1),
        |r1 AS (SELECT n.node,
        |              CAST(150000 + (coalesce(i.in_sum, 0) * 85) // 100 AS BIGINT) AS rank
        |       FROM nodes n LEFT JOIN i1 i ON n.node = i.node),
        |i2 AS (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS in_sum
        |       FROM edges e JOIN r1 r ON e.src = r.node
        |       JOIN outdeg o ON e.src = o.src GROUP BY 1),
        |r2 AS (SELECT n.node,
        |              CAST(150000 + (coalesce(i.in_sum, 0) * 85) // 100 AS BIGINT) AS rank
        |       FROM nodes n LEFT JOIN i2 i ON n.node = i.node),
        |i3 AS (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS in_sum
        |       FROM edges e JOIN r2 r ON e.src = r.node
        |       JOIN outdeg o ON e.src = o.src GROUP BY 1),
        |r3 AS (SELECT n.node,
        |              CAST(150000 + (coalesce(i.in_sum, 0) * 85) // 100 AS BIGINT) AS rank
        |       FROM nodes n LEFT JOIN i3 i ON n.node = i.node)
        |SELECT node, rank FROM r3
        |ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin,

    "q_mode" ->
      """WITH c AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, lang AS modal_lang, cnt AS modal_cnt
        |FROM (SELECT *, row_number() OVER (PARTITION BY source
        |                 ORDER BY cnt DESC, lang DESC) AS rn FROM c)
        |WHERE rn = 1""".stripMargin,

    "q_tpch_q22" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |       CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
        |FROM (SELECT c_custkey, c_nationkey,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |      FROM customer) c
        |WHERE CAST(bal_cents AS DOUBLE) >
        |      (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |              / count(*)
        |       FROM customer WHERE round(c_acctbal * 100) > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin,

    "q_ols_trend" ->
      """WITH yearly AS (
        |  SELECT c_nationkey, CAST(year(o_orderdate) - 1995 AS BIGINT) AS x,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |m AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_years,
        |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |             CAST(sum(x * y) AS BIGINT) AS sxy,
        |             CAST(sum(x * x) AS BIGINT) AS sxx
        |      FROM yearly GROUP BY 1)
        |SELECT c_nationkey, n_years,
        |       CAST(n_years * sxy - sx * sy AS DOUBLE) /
        |       CAST(n_years * sxx - sx * sx AS DOUBLE) AS slope_cents_per_year
        |FROM m""".stripMargin,

    "q_chi_square" ->
      """WITH cells AS (SELECT o_orderstatus AS st, o_orderpriority AS pr,
        |                      CAST(count(*) AS BIGINT) AS obs
        |               FROM orders GROUP BY 1, 2),
        |rt AS (SELECT st, CAST(sum(obs) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT pr, CAST(sum(obs) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        |               CAST(count(DISTINCT st) AS BIGINT) AS nr,
        |               CAST(count(DISTINCT pr) AS BIGINT) AS nc
        |        FROM cells),
        |terms AS (
        |  SELECT st, pr, n, nr, nc,
        |         (CAST(obs AS DOUBLE) - exp) * (CAST(obs AS DOUBLE) - exp) / exp AS term
        |  FROM (SELECT st, pr, obs, n, nr, nc,
        |               CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS exp
        |        FROM cells JOIN rt USING (st) JOIN ct USING (pr) CROSS JOIN tot))
        |SELECT sum(term ORDER BY st, pr) AS chi2,
        |       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof, n
        |FROM terms GROUP BY nr, nc, n""".stripMargin,

    "q_dedup_normalized" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM (SELECT doc_id,
        |             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |      FROM documents)
        |GROUP BY fp""".stripMargin,

    "q_triangles" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |            WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |              AND l_shipdate < TIMESTAMP '1999-01-01'),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        |          JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin,

    "q_skyline" ->
      """WITH p AS (SELECT p_partkey,
        |                  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |                  p_size
        |           FROM part)
        |SELECT p_partkey, price_cents, p_size FROM p s
        |WHERE NOT EXISTS (SELECT 1 FROM p q
        |  WHERE q.price_cents <= s.price_cents AND q.p_size <= s.p_size
        |    AND (q.price_cents < s.price_cents OR q.p_size < s.p_size))""".stripMargin,

    "q_nullsafe_join" ->
      """WITH o AS (SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS pr
        |           FROM orders),
        |dim AS (SELECT DISTINCT pr AS pr_d FROM o)
        |SELECT coalesce(pr_d, 'UNSPECIFIED') AS pr_label,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM o JOIN dim ON o.pr IS NOT DISTINCT FROM dim.pr_d
        |GROUP BY 1""".stripMargin,

    "q_tpch_q2" ->
      """WITH sup AS (SELECT s_suppkey, s_name, n_name FROM supplier
        |             JOIN nation ON s_nationkey = n_nationkey
        |             JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |p AS (SELECT p_partkey, p_type FROM part WHERE p_size = 15),
        |perps AS (SELECT p_partkey, p_type, s_suppkey, s_name, n_name,
        |                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |                   AS cost_cents
        |          FROM lineitem JOIN p ON l_partkey = p_partkey
        |                        JOIN sup ON l_suppkey = s_suppkey
        |          GROUP BY 1, 2, 3, 4, 5)
        |SELECT p_partkey, p_type, cost_cents, s_suppkey, s_name, n_name AS nation
        |FROM perps
        |QUALIFY row_number() OVER (PARTITION BY p_partkey
        |                           ORDER BY cost_cents, s_suppkey) = 1""".stripMargin,

    "q_tpch_q8" ->
      """WITH asia_cust AS (SELECT c_custkey FROM customer
        |                   JOIN nation ON c_nationkey = n_nationkey
        |                   JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'),
        |o AS (SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year FROM orders
        |      WHERE o_custkey IN (SELECT c_custkey FROM asia_cust)),
        |li AS (SELECT l_orderkey, l_suppkey,
        |              CAST(round(l_extendedprice * 100) AS BIGINT) *
        |              (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
        |       FROM lineitem)
        |SELECT o_year,
        |       CAST(sum(CASE WHEN s_nationkey = 7 THEN u ELSE 0 END) AS DOUBLE) /
        |       CAST(sum(u) AS DOUBLE) AS mkt_share
        |FROM li JOIN o ON l_orderkey = o_orderkey
        |        JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin,

    "q_tpch_q9" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |                (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |         / 10000.0 AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    "q_tpch_q11" ->
      """WITH vals AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |           AS value_cents
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey = 3
        |  GROUP BY 1)
        |SELECT l_partkey, value_cents FROM vals
        |WHERE CAST(value_cents AS DOUBLE) >
        |      (SELECT CAST(sum(value_cents) AS BIGINT) / 1000.0 FROM vals)""".stripMargin,

    "q_tpch_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_custkey) AS BIGINT) AS c_count
        |      FROM customer LEFT JOIN
        |           (SELECT o_custkey FROM orders
        |            WHERE o_orderpriority <> '4-NOT SPECIFIED') o
        |           ON c_custkey = o_custkey
        |      GROUP BY 1)
        |GROUP BY 1""".stripMargin,

    "q_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |             (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, rev_u / 10000.0 AS total_rev
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE rev_u = (SELECT max(rev_u) FROM rev)""".stripMargin,

    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q_tpch_q20" ->
      """WITH prof AS (
        |  SELECT l_partkey, l_suppkey,
        |         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
        |                   AND l_shipdate < TIMESTAMP '1999-01-01'
        |                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q98,
        |         SUM(CAST(l_quantity AS BIGINT)) AS qall
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM prof WHERE q98 * 2 > qall)""".stripMargin,

    "q_tpch_q21" ->
      """WITH late AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY),
        |anyline AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM anyline l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1 ORDER BY numwait DESC, s_name ASC LIMIT 20""".stripMargin,

    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS INT) AS ship_year,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
        |         / 10000.0 AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin,

    "q_range_join" ->
      """WITH ev AS (
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
        |GROUP BY e.user_id""".stripMargin,

    "q_funnel" ->
      """WITH ev AS (
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
        |SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p""".stripMargin,

    "q_retention" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (
        |  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        |       CAST(floor(date_diff('day', c.cohort_day, e.day) / 7.0) AS BIGINT) AS week_offset,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM ev e JOIN cohort c ON e.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q_latest_per_key" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
        |         CAST(round(value * 1000) AS BIGINT) AS vm
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |            ORDER BY ms DESC, event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, ms AS last_ms, event_id AS last_event_id,
        |       event_type AS last_event_type, vm AS last_value_milli
        |FROM r WHERE rn = 1""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |       coalesce(n_name, 'ALL') AS nation_name,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.25) AS p25,
        |       quantile_cont(l_quantity, 0.5) AS p50,
        |       quantile_cont(l_quantity, 0.75) AS p75,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_seq_examples" ->
      """WITH o AS (
        |  SELECT user_id, event_id, event_type,
        |         lag(event_type, 3) OVER w AS c1,
        |         lag(event_type, 2) OVER w AS c2,
        |         lag(event_type, 1) OVER w AS c3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS target_event_id,
        |       c1 || '>' || c2 || '>' || c3 AS context,
        |       event_type AS target
        |FROM o WHERE c1 IS NOT NULL""".stripMargin,

    "q_sessionize" ->
      """WITH flagged AS (
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
        |FROM sessions GROUP BY user_id, session_idx""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 2500000 AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        |       (CAST(round(o_totalprice * 100) AS BIGINT) // 2500000) * 25000 AS bucket_lo
        |FROM orders GROUP BY 1, 4""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok2 GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM tok2) GROUP BY term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        |  WHERE tf.doc_id < 20)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tfidf
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                 ORDER BY tfidf DESC, term ASC) AS rnk
        |      FROM scored)
        |WHERE rnk <= 5""".stripMargin,

    "q_tpch_q14" ->
      """SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_units ELSE 0 END) AS DOUBLE) / 10000.0 AS promo_revenue,
        |       CAST(SUM(rev_units) AS DOUBLE) / 10000.0 AS total_revenue,
        |       100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN rev_units ELSE 0 END)
        |             / SUM(rev_units) AS promo_share_pct
        |FROM (SELECT l_partkey,
        |             CAST(round(l_extendedprice * 100) AS BIGINT)
        |               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_units
        |      FROM lineitem) l
        |JOIN part ON l_partkey = p_partkey""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name, c_acctbal,
        |       CAST(SUM(rev_units) AS DOUBLE) / 10000.0 AS revenue
        |FROM (SELECT l_orderkey,
        |             CAST(round(l_extendedprice * 100) AS BIGINT)
        |               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_units
        |      FROM lineitem WHERE l_returnflag = 'R') l
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, n_name, c_acctbal
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    // same exact-jaccard pair derivation as q_dedup_minhash_pairs, then
    // the per-source rollup the SQL view query computes
    "q_sql_neardup" ->
      s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT ia AS id_a, ib AS id_b FROM inter
         |          JOIN sizes sa ON sa.doc_id = ia
         |          JOIN sizes sb ON sb.doc_id = ib
         |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8)
         |SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs p JOIN documents d ON p.id_a = d.doc_id
         |GROUP BY d.source""".stripMargin,

    "q_dedup_minhash_pairs" ->
      s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT ia AS id_a, ib AS id_b FROM inter
         |JOIN sizes sa ON sa.doc_id = ia
         |JOIN sizes sb ON sb.doc_id = ib
         |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8""".stripMargin,

    // degree rollup over the same exact-jaccard pair CTE as
    // q_dedup_minhash_pairs
    "q_dup_degree" ->
      s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (
         |  SELECT ia, ib FROM inter
         |  JOIN sizes sa ON sa.doc_id = ia
         |  JOIN sizes sb ON sb.doc_id = ib
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS degree
         |  FROM (SELECT ia AS id FROM pairs UNION ALL SELECT ib AS id FROM pairs)
         |  GROUP BY 1)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
         |FROM deg GROUP BY 1""".stripMargin,

    // exact string-shingle jaccard per pair (same CTE shape as
    // q_dedup_minhash_pairs), fanned across the threshold grid; the
    // pair SET per threshold matches the hashed-shingle side because
    // every pair in the corpus sits ≥0.92 — far from every grid point
    "q_dedup_sweep" ->
      s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (
         |  SELECT ia, ib, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
         |  FROM inter
         |  JOIN sizes sa ON sa.doc_id = ia
         |  JOIN sizes sb ON sb.doc_id = ib),
         |grid AS (SELECT unnest([60, 70, 80, 90]) AS threshold_centi),
         |q AS (SELECT grid.threshold_centi AS threshold_centi, ia, ib
         |      FROM grid JOIN pairs ON j * 100 >= grid.threshold_centi),
         |p AS (SELECT threshold_centi, CAST(count(*) AS BIGINT) AS n_pairs
         |      FROM q GROUP BY 1),
         |d AS (SELECT threshold_centi, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
         |      FROM (SELECT threshold_centi, ia AS id FROM q
         |            UNION ALL SELECT threshold_centi, ib AS id FROM q)
         |      GROUP BY 1)
         |SELECT g2.threshold_centi, coalesce(n_pairs, 0) AS n_pairs,
         |       coalesce(n_docs, 0) AS n_docs
         |FROM grid g2 LEFT JOIN p USING (threshold_centi)
         |LEFT JOIN d USING (threshold_centi)""".stripMargin,

    "q_decontaminate" ->
      """WITH g2 AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 8) AS g
        |  FROM (SELECT doc_id, text,
        |               unnest(range(1, greatest(length(text) - 6, 2))) AS i
        |        FROM documents)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM g2 GROUP BY doc_id),
        |flagged AS (
        |  SELECT c.doc_id
        |  FROM g2 c JOIN g2 e ON c.g = e.g
        |  JOIN sizes s ON s.doc_id = e.doc_id
        |  WHERE e.doc_id % 20 = 3 AND c.doc_id % 20 <> 3
        |  GROUP BY c.doc_id, e.doc_id
        |  HAVING CAST(count(*) AS DOUBLE) / any_value(s.n) >= 0.8)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id % 20 <> 3
        |  AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = documents.doc_id)""".stripMargin,

    // containment via string 5-grams: |eval ∩ corpus| / |eval| — same
    // pair set as the hashed-shingle plan (collision-free on this data)
    "q_contamination" ->
      """WITH g2 AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 8) AS g
        |  FROM (SELECT doc_id, text,
        |               unnest(range(1, greatest(length(text) - 6, 2))) AS i
        |        FROM documents)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM g2 GROUP BY doc_id)
        |SELECT c.doc_id AS corpus_id, e.doc_id AS eval_id,
        |       CAST(count(*) AS DOUBLE) / any_value(s.n) AS containment
        |FROM g2 c
        |JOIN g2 e ON c.g = e.g
        |JOIN sizes s ON s.doc_id = e.doc_id
        |WHERE e.doc_id % 20 = 3 AND c.doc_id % 20 <> 3
        |GROUP BY c.doc_id, e.doc_id
        |HAVING CAST(count(*) AS DOUBLE) / any_value(s.n) >= 0.8""".stripMargin,

    // oracle groups by the text itself; the Spark side groups by
    // (rolling-hash, md5) — identical partitions unless both hashes
    // collide simultaneously, so the results hash-match
    "q_dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,

    // Bit-exact SimHash64 re-implementation in SQL: the kernel's
    // polynomial 3-gram rolling hash (base 1000003 over ASCII bytes) +
    // splitmix64 finalizer + per-bit majority vote. 64-bit wrap-around
    // multiplication is emulated with a 32-bit hi/lo split in HUGEINT
    // (a direct 64x64 product overflows signed INT128); the final
    // unsigned bit pattern is re-signed to match Spark's LongType.
    // Precondition (holds for the synthetic corpus): ASCII text with
    // length >= 3, so char positions == byte positions and the kernel's
    // short-text fallback branch never fires.
    "q_dedup_simhash" ->
      (SimhashOracleCte +
        "SELECT doc_id, simhash FROM simhashes"),

    // All-pairs 64-bit hamming over the same bit-exact hashes — the
    // brute-force formulation the chunk-bucketed Spark plan must equal
    // exactly (pigeonhole: maxHamming=3 < 4 chunks).
    "q_dedup_simhash_pairs" ->
      (SimhashOracleCte +
        """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          |FROM simhashes a JOIN simhashes b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),

    // Luhn in SQL: per candidate run, fold digits right-to-left with
    // every second doubled (−9 past 9) and test mod 10 — same maximal
    // [0-9]+ run + 13-19 length gate as the kernel
    "q_pii_luhn" ->
      """WITH planted AS (
        |  SELECT source, doc_id, text ||
        |    CASE WHEN doc_id % 7 = 1 THEN ' card 4532015112830366'
        |         WHEN doc_id % 7 = 2 THEN ' card 4532015112830367'
        |         WHEN doc_id % 7 = 3 THEN ' card 30569309025904 and 6011111111111117'
        |         WHEN doc_id % 7 = 4 THEN ' ref 123456789012'
        |         ELSE '' END AS t2
        |  FROM documents),
        |runs AS (
        |  SELECT source, doc_id,
        |         list_filter(regexp_extract_all(t2, '[0-9]+'),
        |                     r -> length(r) BETWEEN 13 AND 19) AS cand
        |  FROM planted),
        |scored AS (
        |  SELECT source, doc_id, len(cand) AS nc,
        |         len(list_filter(cand, r ->
        |           list_sum(list_transform(range(0, length(r)), i ->
        |             CASE WHEN i % 2 = 0 THEN CAST(substr(r, length(r) - i, 1) AS INT)
        |                  ELSE CASE WHEN 2 * CAST(substr(r, length(r) - i, 1) AS INT) > 9
        |                            THEN 2 * CAST(substr(r, length(r) - i, 1) AS INT) - 9
        |                            ELSE 2 * CAST(substr(r, length(r) - i, 1) AS INT) END
        |             END)) % 10 = 0)) AS nv
        |  FROM runs)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(nc) AS BIGINT) AS card_candidates,
        |       CAST(sum(nv) AS BIGINT) AS cards_valid,
        |       CAST(sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_card
        |FROM scored GROUP BY source""".stripMargin,

    // same raw/quality formulas as the curation CTE (hash-match proven
    // there); thresholds swept via a VALUES cross join, rate in exact
    // integer basis points
    "q_quality_calibration" -> {
      val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH raw AS (SELECT doc_id, text, source,
         |       CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
         |       CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits
         |FROM documents),
         |q AS (SELECT source,
         |       CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
         |         + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
         |         + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
         |                     AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
         |         - least(CASE WHEN length(text) = 0 THEN 0.0
         |                      ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
         |         ) * 10000.0 + 0.5) AS BIGINT) AS qm
         |FROM raw)
         |SELECT source, CAST(tt.t AS BIGINT) AS threshold_milli,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN qm >= tt.t THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN qm >= tt.t THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS keep_bp
         |FROM q CROSS JOIN (VALUES (3000), (4000), (5000), (6000), (7000)) tt(t)
         |GROUP BY source, tt.t""".stripMargin
    },

    // novelty: oracle on actual 12-char substrings vs Spark's 64-bit
    // hashed grams — distinct-set counts agree absent hash collisions
    // (the established hashed-shingle caveat)
    "q_novelty" ->
      """WITH base AS (SELECT source, doc_id, text FROM documents WHERE length(text) >= 12),
        |dg AS (SELECT DISTINCT source, substr(text, i, 12) AS g
        |       FROM (SELECT * FROM base WHERE doc_id % 7 = 3),
        |            LATERAL (SELECT unnest(range(1, length(text) - 10)) AS i)),
        |cg AS (SELECT DISTINCT substr(text, i, 12) AS g
        |       FROM (SELECT * FROM base WHERE doc_id % 7 <> 3),
        |            LATERAL (SELECT unnest(range(1, length(text) - 10)) AS i))
        |SELECT dg.source, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN cg.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST(sum(CASE WHEN cg.g IS NULL THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS novelty_bp
        |FROM dg LEFT JOIN cg ON dg.g = cg.g
        |GROUP BY dg.source""".stripMargin,

    // substring dedup: the oracle joins ACTUAL 40-char substrings where
    // Spark joins 8-byte hashes and then verifies the maximal spans —
    // identical pair set and lengths (verification makes collisions
    // impossible to surface)
    "q_substring_dup" ->
      """WITH g AS (
        |  SELECT doc_id, i, substr(text, i, 40) AS s
        |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 38)) AS i)
        |  WHERE length(text) >= 40),
        |m AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, a.i AS pa, b.i AS pb
        |  FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT ia, ib, pa - pb AS d, pa,
        |         pa - ROW_NUMBER() OVER (PARTITION BY ia, ib, pa - pb ORDER BY pa) AS grp
        |  FROM m),
        |runs AS (
        |  SELECT ia, ib, CAST(count(*) + 39 AS BIGINT) AS len
        |  FROM isl GROUP BY ia, ib, d, grp)
        |SELECT ia AS id_a, ib AS id_b, max(len) AS max_shared_len
        |FROM runs GROUP BY 1, 2""".stripMargin,

    // same span CTE as q_substring_dup + a length join; containment =
    // the longest shared span covers the shorter doc entirely
    "q_containment" ->
      """WITH g AS (
        |  SELECT doc_id, i, substr(text, i, 40) AS s
        |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 38)) AS i)
        |  WHERE length(text) >= 40),
        |m AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, a.i AS pa, b.i AS pb
        |  FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT ia, ib, pa - pb AS d, pa,
        |         pa - ROW_NUMBER() OVER (PARTITION BY ia, ib, pa - pb ORDER BY pa) AS grp
        |  FROM m),
        |runs AS (
        |  SELECT ia, ib, CAST(count(*) + 39 AS BIGINT) AS len
        |  FROM isl GROUP BY ia, ib, d, grp),
        |spans AS (SELECT ia, ib, max(len) AS msl FROM runs GROUP BY 1, 2),
        |lens AS (SELECT doc_id, length(text) AS len FROM documents)
        |SELECT CASE WHEN la.len > lb.len THEN ia
        |            WHEN lb.len > la.len THEN ib
        |            ELSE least(ia, ib) END AS container_id,
        |       CASE WHEN la.len > lb.len THEN ib
        |            WHEN lb.len > la.len THEN ia
        |            ELSE greatest(ia, ib) END AS contained_id,
        |       CAST(least(la.len, lb.len) AS BIGINT) AS contained_len
        |FROM spans
        |JOIN lens la ON la.doc_id = ia
        |JOIN lens lb ON lb.doc_id = ib
        |WHERE msl >= least(la.len, lb.len)""".stripMargin,

    // same base CTE as q_substring_dup (exact 40-char substrings stand
    // in for the hashed grams), then the grid fan-out over the pair set
    "q_substring_sweep" ->
      """WITH g AS (
        |  SELECT doc_id, i, substr(text, i, 40) AS s
        |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 38)) AS i)
        |  WHERE length(text) >= 40),
        |m AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, a.i AS pa, b.i AS pb
        |  FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT ia, ib, pa - pb AS d, pa,
        |         pa - ROW_NUMBER() OVER (PARTITION BY ia, ib, pa - pb ORDER BY pa) AS grp
        |  FROM m),
        |runs AS (
        |  SELECT ia, ib, CAST(count(*) + 39 AS BIGINT) AS len
        |  FROM isl GROUP BY ia, ib, d, grp),
        |spans AS (SELECT ia, ib, max(len) AS msl FROM runs GROUP BY 1, 2),
        |grid AS (SELECT unnest([40, 80, 160, 320]) AS min_len),
        |q AS (SELECT grid.min_len AS min_len, ia, ib, msl
        |      FROM grid JOIN spans ON msl >= grid.min_len),
        |pairs AS (
        |  SELECT min_len, CAST(count(*) AS BIGINT) AS n_pairs,
        |         max(msl) AS longest, CAST(sum(msl) AS BIGINT) AS span_mass
        |  FROM q GROUP BY 1),
        |docs_ AS (
        |  SELECT min_len, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
        |  FROM (SELECT min_len, ia AS id FROM q
        |        UNION ALL SELECT min_len, ib AS id FROM q)
        |  GROUP BY 1)
        |SELECT g2.min_len, coalesce(n_pairs, 0) AS n_pairs,
        |       coalesce(n_docs, 0) AS n_docs,
        |       coalesce(longest, 0) AS longest,
        |       coalesce(span_mass, 0) AS span_mass
        |FROM grid g2 LEFT JOIN pairs USING (min_len)
        |LEFT JOIN docs_ USING (min_len)""".stripMargin,

    "q_embed_neardup" ->
      """WITH c AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |         list_transform(embedding::DOUBLE[], x -> x * 2.0)
        |  FROM embeddings)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM c a JOIN c b ON a.id < b.id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.98""".stripMargin,

    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
        |     c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
        |     scored AS (
        |       SELECT qid AS query_id, nid AS neighbor_id,
        |              round(list_cosine_similarity(cv, qv), 9) AS cosine
        |       FROM c, q WHERE nid <> qid)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 10""".stripMargin,

    // r9: full candidate-generation replay of the hyperplane-LSH path —
    // possible because the r9 signature kernel is EXACT integer
    // arithmetic both engines compute identically (md5-derived
    // Rademacher ±1 signs × components quantized floor(v·2^24 + 0.5);
    // see Expressions.hyperplaneSig's portability contract). Multi-probe
    // at hamming ≤ 2 over XOR masks ≡ joining on bit_count(xor(sig_q,
    // sig_c)) ≤ 2 per table. Final ranking mirrors q_ann_topk's
    // (cosine rounded 9 dp DESC, neighbor_id ASC).
    "q_ann_lsh" -> (AnnLshCandidateCte(nTables = 6, nPlanes = 8, hamming = 2) +
      """,
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
        |  FROM cand JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
        |            JOIN embeddings qe ON qe.vec_id = cand.query_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 5""".stripMargin),

    // recall of the replayed LSH top-5 against the replayed exact top-5
    // — n_hit/5.0 is an exact IEEE quotient of small integers
    "q_ann_lsh_recall" -> (AnnLshCandidateCte(nTables = 6, nPlanes = 8, hamming = 2) +
      """,
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
        |  FROM cand JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
        |            JOIN embeddings qe ON qe.vec_id = cand.query_id),
        |approx AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM scored)
        |  WHERE rank <= 5),
        |exact_scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |exact AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM exact_scored)
        |  WHERE rank <= 5),
        |hits AS (
        |  SELECT e.query_id, count(a.neighbor_id) AS n_hit
        |  FROM exact e LEFT JOIN approx a
        |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |  GROUP BY 1)
        |SELECT query_id, n_hit / 5.0 AS recall FROM hits""".stripMargin),

    // r9: FULL IVF replay — possible because the r9 front half is
    // portable integer geometry end-to-end (md5 fit draw, integer
    // Lloyd quantizer, exact rank-select radii, integer-distance probe
    // ranking, integer Rademacher sketch shortlist — see
    // Similarity.ivfCellsAndRankedProbes' contract) and the final
    // re-rank is the q_ann_topk-proven float cosine. Parameters mirror
    // q_ann_ivf: 16 cells, nProbe 12, fitFraction 0.25 ('40'),
    // sketchDim 32 seed 7043, shortlist 240.
    "q_ann_ivf" -> (AnnIvfShortlistCte(numCells = 16, nProbe = 12,
      fitThrHex = "40", sketchDim = 32, sketchSeed = 7043L,
      rerank = fractionRerankSql(240)) +
      """,
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
        |  FROM shortlist JOIN embeddings ce ON ce.vec_id = shortlist.neighbor_id
        |                 JOIN embeddings qe ON qe.vec_id = shortlist.query_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 5""".stripMargin),

    // recall of the replayed IVF top-5 against the replayed exact top-5
    "q_ann_ivf_recall" -> (AnnIvfShortlistCte(numCells = 16, nProbe = 12,
      fitThrHex = "40", sketchDim = 32, sketchSeed = 7043L,
      rerank = fractionRerankSql(240)) +
      """,
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
        |  FROM shortlist JOIN embeddings ce ON ce.vec_id = shortlist.neighbor_id
        |                 JOIN embeddings qe ON qe.vec_id = shortlist.query_id),
        |approx AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM scored)
        |  WHERE rank <= 5),
        |exact_scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |exact AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM exact_scored)
        |  WHERE rank <= 5),
        |hits AS (
        |  SELECT e.query_id, count(a.neighbor_id) AS n_hit
        |  FROM exact e LEFT JOIN approx a
        |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |  GROUP BY 1)
        |SELECT query_id, n_hit / 5.0 AS recall FROM hits""".stripMargin),

    // the sweep probes every depth ≤ 16 and scores candidates with the
    // EXACT cosine (no sketch — mirrors Similarity.ivfRecallSweep);
    // a candidate in the rank-rn cell belongs to every depth ≥ rn
    "q_ann_ivf_sweep" -> (AnnIvfCandidateCte(numCells = 16, maxRn = 16,
      fitThrHex = "40") +
      """,
        |sc AS (
        |  SELECT c.query_id, c.neighbor_id, c.rn,
        |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
        |  FROM cand c JOIN embeddings ce ON ce.vec_id = c.neighbor_id
        |              JOIN embeddings qe ON qe.vec_id = c.query_id),
        |swept AS (
        |  SELECT g.n_probe, sc.query_id, sc.neighbor_id, sc.cosine
        |  FROM sc JOIN (SELECT unnest([2, 4, 8, 12, 16]) AS n_probe) g
        |    ON g.n_probe >= sc.rn),
        |appx AS (
        |  SELECT n_probe, query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY n_probe, query_id
        |                    ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM swept)
        |  WHERE rank <= 5),
        |exact_scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |exact AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM exact_scored)
        |  WHERE rank <= 5)
        |SELECT a.n_probe,
        |       CAST(count(*) * 10000 // (5 * 20) AS BIGINT) AS recall_bp
        |FROM appx a JOIN exact e
        |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        |GROUP BY 1""".stripMargin),

    // r9: FULL PQ replay — possible because the r9 PQ stack is portable
    // integer arithmetic end-to-end (quantNorm20 vectors, md5 fit draw,
    // integer-Lloyd codebook, integer codes/ADC table/shortlist — see
    // Similarity.fitPqCodebookQ's contract) and the final re-rank is
    // the q_ann_topk-proven float cosine. Parameters mirror q_ann_pq:
    // m=8, k=16, 10 Lloyd rounds, fitFraction 0.5 ('80'), rerank 96.
    "q_ann_pq" -> (AnnPqCandidateCte(m = 8, k = 16, iters = 10,
      rerank = fractionRerankSql(96), fitThrHex = "80") +
      """,
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
        |  FROM cand JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
        |            JOIN embeddings qe ON qe.vec_id = cand.query_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 5""".stripMargin),

    // recall of the replayed PQ top-5 against the replayed exact top-5
    "q_ann_pq_recall" -> (AnnPqCandidateCte(m = 8, k = 16, iters = 10,
      rerank = fractionRerankSql(96), fitThrHex = "80") +
      """,
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
        |  FROM cand JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
        |            JOIN embeddings qe ON qe.vec_id = cand.query_id),
        |approx AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM scored)
        |  WHERE rank <= 5),
        |exact_scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |exact AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM exact_scored)
        |  WHERE rank <= 5),
        |hits AS (
        |  SELECT e.query_id, count(a.neighbor_id) AS n_hit
        |  FROM exact e LEFT JOIN approx a
        |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |  GROUP BY 1)
        |SELECT query_id, n_hit / 5.0 AS recall FROM hits""".stripMargin),

    // r9: FULL IVF+PQ replay — the composed funnel (coarse integer
    // cells, exact-integer residual codes, decomposed integer ADC,
    // probe-ranked shortlist) is the same portable arithmetic; the
    // fixed operating point is nProbe 12 / rerank 128
    "q_ann_ivfpq" -> (AnnIvfPqCandidateCte(numCells = 16, m = 8, k = 16,
      iters = 10, fitThrHex = "80") +
      """,
        |sl AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS sr
        |    FROM cand WHERE rn <= 12)
        |  WHERE sr <= (greatest(128, (SELECT count(*) FROM embeddings) // 20))),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
        |  FROM sl JOIN embeddings ce ON ce.vec_id = sl.neighbor_id
        |          JOIN embeddings qe ON qe.vec_id = sl.query_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 5""".stripMargin),

    // recall of the replayed IVF+PQ top-5 against the replayed exact top-5
    "q_ann_ivfpq_recall" -> (AnnIvfPqCandidateCte(numCells = 16, m = 8, k = 16,
      iters = 10, fitThrHex = "80") +
      """,
        |sl AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS sr
        |    FROM cand WHERE rn <= 12)
        |  WHERE sr <= (greatest(128, (SELECT count(*) FROM embeddings) // 20))),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
        |  FROM sl JOIN embeddings ce ON ce.vec_id = sl.neighbor_id
        |          JOIN embeddings qe ON qe.vec_id = sl.query_id),
        |approx AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM scored)
        |  WHERE rank <= 5),
        |exact_scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |exact AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM exact_scored)
        |  WHERE rank <= 5),
        |hits AS (
        |  SELECT e.query_id, count(a.neighbor_id) AS n_hit
        |  FROM exact e LEFT JOIN approx a
        |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |  GROUP BY 1)
        |SELECT query_id, n_hit / 5.0 AS recall FROM hits""".stripMargin),

    // the sweep slices the SAME candidate set by probe depth (rn is a
    // prefix property — mirrors Similarity.ivfPqRecallSweep), shortlists
    // each depth at rerank 128, exact-cosine re-ranks, and publishes
    // integer basis points against the replayed exact top-5
    "q_ann_ivfpq_sweep" -> (AnnIvfPqCandidateCte(numCells = 16, m = 8, k = 16,
      iters = 10, fitThrHex = "80") +
      """,
        |swept AS (
        |  SELECT g.n_probe, c.query_id, c.neighbor_id, c.adc
        |  FROM cand c JOIN (SELECT unnest([2, 4, 8, 12, 16]) AS n_probe) g
        |    ON g.n_probe >= c.rn),
        |sl AS (
        |  SELECT n_probe, query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY n_probe, query_id
        |                ORDER BY adc DESC, neighbor_id) AS sr
        |    FROM swept)
        |  WHERE sr <= 128),
        |sc AS (
        |  SELECT sl.n_probe, sl.query_id, sl.neighbor_id,
        |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
        |  FROM sl JOIN embeddings ce ON ce.vec_id = sl.neighbor_id
        |          JOIN embeddings qe ON qe.vec_id = sl.query_id),
        |appx AS (
        |  SELECT n_probe, query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY n_probe, query_id
        |                    ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM sc)
        |  WHERE rank <= 5),
        |exact_scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |exact AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM exact_scored)
        |  WHERE rank <= 5)
        |SELECT a.n_probe,
        |       CAST(count(*) * 10000 // (5 * 20) AS BIGINT) AS recall_bp
        |FROM appx a JOIN exact e
        |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        |GROUP BY 1""".stripMargin),

    // the 2-D grid adds the rerank prefix property on top of the probe
    // one (mirrors Similarity.ivfPqGridSweep) — 20 operating points,
    // one candidate set, one exact-cosine join
    "q_ann_ivfpq_grid" -> (AnnIvfPqCandidateCte(numCells = 16, m = 8, k = 16,
      iters = 10, fitThrHex = "80") +
      """,
        |swept AS (
        |  SELECT g.n_probe, c.query_id, c.neighbor_id, c.adc
        |  FROM cand c JOIN (SELECT unnest([2, 4, 8, 12, 16]) AS n_probe) g
        |    ON g.n_probe >= c.rn),
        |slr AS (
        |  SELECT *, row_number() OVER (PARTITION BY n_probe, query_id
        |              ORDER BY adc DESC, neighbor_id) AS sr
        |  FROM swept),
        |shortlists AS (
        |  SELECT s.n_probe, r.rerank, s.query_id, s.neighbor_id
        |  FROM slr s JOIN (SELECT unnest([32, 64, 96, 128]) AS rerank) r
        |    ON r.rerank >= s.sr
        |  WHERE s.sr <= 128),
        |sc AS (
        |  SELECT p.query_id, p.neighbor_id,
        |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
        |  FROM (SELECT DISTINCT query_id, neighbor_id FROM shortlists) p
        |  JOIN embeddings ce ON ce.vec_id = p.neighbor_id
        |  JOIN embeddings qe ON qe.vec_id = p.query_id),
        |appx AS (
        |  SELECT n_probe, rerank, query_id, neighbor_id
        |  FROM (SELECT sh.n_probe, sh.rerank, sh.query_id, sh.neighbor_id,
        |               ROW_NUMBER() OVER (PARTITION BY sh.n_probe, sh.rerank, sh.query_id
        |                 ORDER BY sc.cosine DESC, sh.neighbor_id) AS rank
        |        FROM shortlists sh JOIN sc
        |          ON sc.query_id = sh.query_id AND sc.neighbor_id = sh.neighbor_id)
        |  WHERE rank <= 5),
        |exact_scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |exact AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |        FROM exact_scored)
        |  WHERE rank <= 5)
        |SELECT a.n_probe, a.rerank,
        |       CAST(count(*) * 10000 // (5 * 20) AS BIGINT) AS recall_bp
        |FROM appx a JOIN exact e
        |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        |GROUP BY 1, 2""".stripMargin),

    // r9: FULL SemDeDup replay — possible because the r9 engine
    // clustering is a portable integer Lloyd (Dedup.semDeDup: md5-rank
    // init, 2^20-quantized components, exact integer argmin with
    // smallest-cell ties, truncating-division centroid updates, 2
    // rounds unrolled here as (d1,a1,s1,c1)/(d2,a2,s2,c2)) and every
    // similarity (τ-pairs, cent_sim) is the exact-integer cosine_q.
    // k is data-driven (max(8, min(1024, n/256))) — only the ROUND
    // count is unrolled. Closure = the standard reach CTE; keep-rule =
    // min (cent_sim, id) per group root.
    "q_semdedup" ->
      """WITH RECURSIVE
        |params AS (SELECT greatest(8, least(1024,
        |             CAST(ceil(sqrt(CAST(count(*) AS DOUBLE) / 256.0)) AS BIGINT))) AS k
        |           FROM embeddings),
        |qd AS MATERIALIZED (
        |  SELECT vec_id, i.i AS i,
        |         CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
        |  FROM embeddings, range(64) i(i)),
        |init AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id,
        |           CAST(row_number() OVER (ORDER BY md5('sd:' || vec_id), vec_id) - 1 AS INT) AS cell
        |    FROM embeddings)
        |  WHERE cell < (SELECT k FROM params)),
        |c0 AS (SELECT init.cell, qd.i, qd.q AS c FROM init JOIN qd USING (vec_id)),
        |d1 AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
        |       FROM qd JOIN c0 c USING (i) GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell
        |       FROM d1 GROUP BY 1),
        |s1 AS (SELECT a1.cell, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
        |       FROM a1 JOIN qd USING (vec_id) GROUP BY 1, 2),
        |c1 AS (SELECT c0.cell, c0.i, coalesce(s1.s // s1.n, c0.c) AS c
        |       FROM c0 LEFT JOIN s1 ON s1.cell = c0.cell AND s1.i = c0.i),
        |d2 AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
        |       FROM qd JOIN c1 c USING (i) GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell
        |       FROM d2 GROUP BY 1),
        |s2 AS (SELECT a2.cell, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
        |       FROM a2 JOIN qd USING (vec_id) GROUP BY 1, 2),
        |c2 AS MATERIALIZED (SELECT c1.cell, c1.i, coalesce(s2.s // s2.n, c1.c) AS c
        |       FROM c1 LEFT JOIN s2 ON s2.cell = c1.cell AND s2.i = c1.i),
        |df AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
        |       FROM qd JOIN c2 c USING (i) GROUP BY 1, 2),
        |af AS MATERIALIZED (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell
        |       FROM df GROUP BY 1),
        |-- LEVEL 2 (r11): k2(c) = ceil(|c|/256) subcells per coarse cell,
        |-- all cells fitted together — the engine's two-level Lloyd
        |k2 AS MATERIALIZED (SELECT cell, greatest(1, least(1024, (count(*) + 255) // 256)) AS k2
        |       FROM af GROUP BY cell),
        |i2 AS MATERIALIZED (SELECT i0.vec_id, i0.cell, i0.sub FROM (
        |         SELECT vec_id, cell,
        |                CAST(row_number() OVER (PARTITION BY cell
        |                       ORDER BY md5('sd2:' || vec_id), vec_id) - 1 AS INT) AS sub
        |         FROM af) i0
        |       JOIN k2 USING (cell) WHERE i0.sub < k2.k2),
        |e0 AS MATERIALIZED (SELECT i2.cell, i2.sub, qd.i, qd.q AS c FROM i2 JOIN qd USING (vec_id)),
        |f1 AS (SELECT qd.vec_id, e.sub, sum((qd.q - e.c) * (qd.q - e.c)) AS dist
        |       FROM qd JOIN af USING (vec_id)
        |       JOIN e0 e ON e.cell = af.cell AND e.i = qd.i
        |       GROUP BY 1, 2),
        |g1 AS MATERIALIZED (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + sub) % 1024 AS INT) AS sub
        |       FROM f1 GROUP BY 1),
        |t1 AS (SELECT af.cell, g1.sub, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
        |       FROM g1 JOIN af USING (vec_id) JOIN qd USING (vec_id) GROUP BY 1, 2, 3),
        |e1 AS MATERIALIZED (SELECT e0.cell, e0.sub, e0.i, coalesce(t1.s // t1.n, e0.c) AS c
        |       FROM e0 LEFT JOIN t1 ON t1.cell = e0.cell AND t1.sub = e0.sub AND t1.i = e0.i),
        |f2 AS (SELECT qd.vec_id, e.sub, sum((qd.q - e.c) * (qd.q - e.c)) AS dist
        |       FROM qd JOIN af USING (vec_id)
        |       JOIN e1 e ON e.cell = af.cell AND e.i = qd.i
        |       GROUP BY 1, 2),
        |g2 AS MATERIALIZED (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + sub) % 1024 AS INT) AS sub
        |       FROM f2 GROUP BY 1),
        |t2 AS (SELECT af.cell, g2.sub, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
        |       FROM g2 JOIN af USING (vec_id) JOIN qd USING (vec_id) GROUP BY 1, 2, 3),
        |e2 AS MATERIALIZED (SELECT e1.cell, e1.sub, e1.i, coalesce(t2.s // t2.n, e1.c) AS c
        |       FROM e1 LEFT JOIN t2 ON t2.cell = e1.cell AND t2.sub = e1.sub AND t2.i = e1.i),
        |ff AS (SELECT qd.vec_id, e.sub, sum((qd.q - e.c) * (qd.q - e.c)) AS dist
        |       FROM qd JOIN af USING (vec_id)
        |       JOIN e2 e ON e.cell = af.cell AND e.i = qd.i
        |       GROUP BY 1, 2),
        |gf AS MATERIALIZED (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + sub) % 1024 AS INT) AS sub
        |       FROM ff GROUP BY 1),
        |af2 AS MATERIALIZED (SELECT af.vec_id, af.cell, gf.sub,
        |               CAST(af.cell * 1024 + gf.sub AS INT) AS cluster
        |        FROM af JOIN gf USING (vec_id)),
        |norms AS MATERIALIZED (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2 FROM qd GROUP BY 1),
        |cnorm AS MATERIALIZED (SELECT cell, sub, CAST(sum(c * c) AS BIGINT) AS n2 FROM e2 GROUP BY 1, 2),
        |cdot AS (SELECT af2.vec_id, af2.cell, af2.sub, CAST(sum(qd.q * c.c) AS BIGINT) AS dot
        |         FROM af2 JOIN qd USING (vec_id)
        |         JOIN e2 c ON c.cell = af2.cell AND c.sub = af2.sub AND c.i = qd.i
        |         GROUP BY 1, 2, 3),
        |cs AS (SELECT cdot.vec_id,
        |              round(CASE WHEN n1.n2 = 0 OR cn.n2 = 0 THEN 0.0
        |                         ELSE CAST(dot AS DOUBLE)
        |                              / (sqrt(CAST(n1.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) END,
        |                    9) AS cent_sim
        |       FROM cdot JOIN norms n1 USING (vec_id)
        |       JOIN cnorm cn ON cn.cell = cdot.cell AND cn.sub = cdot.sub),
        |pdot AS (SELECT a.vec_id AS ia, b.vec_id AS ib, CAST(sum(qa.q * qb.q) AS BIGINT) AS dot
        |         FROM af2 a JOIN af2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |         JOIN qd qa ON qa.vec_id = a.vec_id
        |         JOIN qd qb ON qb.vec_id = b.vec_id AND qb.i = qa.i
        |         GROUP BY 1, 2),
        |pairs AS (SELECT ia, ib FROM pdot
        |          JOIN norms na ON na.vec_id = ia JOIN norms nb ON nb.vec_id = ib
        |          WHERE na.n2 > 0 AND nb.n2 > 0
        |            AND CAST(dot AS DOUBLE)
        |                / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.95),
        |edges AS (SELECT ia AS s, ib AS d FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach AS (SELECT s, d FROM edges
        |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        |roots AS (SELECT s AS vec_id, least(s, min(d)) AS root FROM reach GROUP BY s),
        |lab AS MATERIALIZED (SELECT af2.vec_id, af2.cluster, cs.cent_sim,
        |               coalesce(r.root, af2.vec_id) AS group_root
        |        FROM af2 JOIN cs ON cs.vec_id = af2.vec_id
        |        LEFT JOIN roots r ON r.vec_id = af2.vec_id),
        |keep AS (SELECT group_root, vec_id AS keep_id FROM (
        |           SELECT *, row_number() OVER (PARTITION BY group_root
        |                       ORDER BY cent_sim, vec_id) AS rn FROM lab)
        |         WHERE rn = 1)
        |SELECT CAST(lab.cluster AS INT) AS cluster, count(*) AS n_vecs,
        |       CAST(sum(CASE WHEN lab.vec_id = keep.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       count(DISTINCT lab.group_root) AS n_groups,
        |       round(min(lab.cent_sim), 6) AS min_cent_sim
        |FROM lab JOIN keep USING (group_root)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // same generated lang/quality formulas as q_lang_id / q_text_quality,
    // composed into the one-pass per-source rollup
    "q_dataset_card" -> {
      val cases = TextAnalysis.LangMarkers.map { case (lang, words) =>
        val set = words.map(w => s"'$w'").mkString(", ")
        (lang, s"len(list_filter(string_split(text, ' '), t -> t IN ($set)))")
      }
      val hitDefs = cases.map { case (l, e) => s"$e AS h_$l" }.mkString(",\n       ")
      val gmax = cases.map(c => s"h_${c._1}").mkString("greatest(", ", ", ")")
      val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH per_doc AS (
         |  SELECT source, n_chars,
         |         CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
         |           + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
         |           + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
         |                       AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
         |           - least(CASE WHEN length(text) = 0 THEN 0.0
         |                        ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
         |           ) * 10000.0 + 0.5) AS BIGINT) AS qm,
         |         CASE WHEN h_en = $gmax AND $gmax > 0 THEN 1 ELSE 0 END AS is_en,
         |         md5(text) AS fp,
         |         CAST(CASE WHEN length(text) = 0 THEN 0
         |              ELSE len(string_split(text, ' ')) END AS BIGINT) AS tok
         |  FROM (SELECT source, n_chars, text,
         |               CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
         |               CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits,
         |               $hitDefs
         |        FROM documents))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       CAST(sum(qm) AS BIGINT) AS quality_milli_sum,
         |       CAST(sum(is_en) AS BIGINT) AS n_en,
         |       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dup_docs,
         |       CAST(sum(tok) AS BIGINT) AS n_tokens_ws
         |FROM per_doc GROUP BY source""".stripMargin
    },

    "q_lang_id" -> {
      val cases = TextAnalysis.LangMarkers.map { case (lang, words) =>
        val set = words.map(w => s"'$w'").mkString(", ")
        (lang, s"len(list_filter(string_split(text, ' '), t -> t IN ($set)))")
      }
      val hitDefs = cases.map { case (l, e) => s"$e AS h_$l" }.mkString(",\n       ")
      val gmax = cases.map(c => s"h_${c._1}").mkString("greatest(", ", ", ")")
      val whens = cases.map { case (l, _) =>
        s"WHEN h_$l = gmax AND gmax > 0 THEN '$l'"
      }.mkString(" ")
      s"""SELECT doc_id, CASE $whens ELSE 'und' END AS lang_id
         |FROM (SELECT doc_id, $gmax AS gmax, h_en, h_es, h_de, h_fr
         |      FROM (SELECT doc_id,
         |       $hitDefs
         |      FROM documents))""".stripMargin
    },

    "q_text_quality" -> {
      val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id,
         |       CAST(stop_hits AS BIGINT) AS stopword_hits,
         |       CAST(CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
         |             + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
         |             + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
         |                         AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
         |             - least(CASE WHEN length(text) = 0 THEN 0.0
         |                          ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
         |             ) * 10000.0 + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS quality
         |FROM (SELECT doc_id, text,
         |             CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
         |             CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits
         |      FROM documents)""".stripMargin
    },

    "q_token_count" ->
      s"""SELECT doc_id,
         |       CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS BIGINT) AS n_tokens_ws,
         |       CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}')) AS BIGINT) AS n_tokens_bpeish
         |FROM documents""".stripMargin,

    "q_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp_md5 FROM documents",

    // the FakeDecoder's features are deterministic byte statistics, so
    // frame offsets are pure integer arithmetic; byte_sum reproduces the
    // window reduction via per-char codepoints (corpus is ASCII, so
    // char position == byte offset)
    "q_frame_sample" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id, text, length(text) AS len
        |  FROM documents WHERE doc_id % 3 = 2 AND length(text) >= 64),
        |frames AS (
        |  SELECT media_id, CAST(f.i AS INT) AS frame_idx,
        |         (f.i * (len - 64)) // 7 AS frame_off, text
        |  FROM media, (SELECT unnest(range(8)) AS i) f),
        |chars AS (
        |  SELECT media_id, frame_idx, frame_off,
        |         ord(substr(text, CAST(frame_off + p + 1 AS INT), 1)) AS code
        |  FROM (SELECT *, unnest(range(64)) AS p FROM frames))
        |SELECT media_id, frame_idx, CAST(frame_off AS BIGINT) AS frame_off,
        |       CAST(sum(code) AS BIGINT) AS byte_sum
        |FROM chars GROUP BY 1, 2, 3""".stripMargin,

    // md5 over the payload bytes: DuckDB's md5(VARCHAR) hashes the
    // UTF-8 bytes — exactly the engine's md5(encode(text, 'UTF-8'))
    "q_media_dedup" ->
      """WITH m AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |              WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |              ELSE 'video/mp4' END AS mime,
        |         md5(text) AS digest,
        |         CAST(length(text) AS BIGINT) AS n_bytes
        |  FROM documents),
        |g AS (
        |  SELECT mime AS mime_group, digest, n_bytes FROM m
        |  UNION ALL
        |  SELECT 'ALL' AS mime_group, digest, n_bytes FROM m),
        |base AS (
        |  SELECT mime_group, CAST(count(*) AS BIGINT) AS n_media,
        |         CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct,
        |         CAST(sum(n_bytes) AS BIGINT) AS bytes_total
        |  FROM g GROUP BY 1),
        |dd AS (
        |  SELECT mime_group, CAST(sum(b) AS BIGINT) AS bytes_dedup FROM (
        |    SELECT mime_group, digest, min(n_bytes) AS b
        |    FROM g GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT base.mime_group, n_media, n_distinct,
        |       n_media - n_distinct AS n_dup_copies, bytes_total, bytes_dedup
        |FROM base JOIN dd USING (mime_group)""".stripMargin,

    // retrieval-metrics replay: the LSH run and the exact top-5 from
    // the proven candidate/cosine CTEs, then pure integer metric math
    // with the ENGINE's own discount table interpolated as literals
    "q_retrieval_metrics" -> {
      val disc = graft.ops.Similarity.discNano(5)
      val idcg = disc.scanLeft(0L)(_ + _).drop(1)
      val discCase = disc.zipWithIndex
        .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
      val idcgCase = idcg.zipWithIndex
        .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
      AnnLshCandidateCte(nTables = 6, nPlanes = 8, hamming = 2) +
      s""",
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
         |  FROM cand JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
         |            JOIN embeddings qe ON qe.vec_id = cand.query_id),
         |run AS (
         |  SELECT query_id, neighbor_id, rank
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |        FROM scored)
         |  WHERE rank <= 5),
         |exact_scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
         |  FROM embeddings c, embeddings q
         |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
         |qrels AS (
         |  SELECT query_id, neighbor_id
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |        FROM exact_scored)
         |  WHERE rank <= 5),
         |j AS (
         |  SELECT r.query_id, r.rank,
         |         CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |  FROM run r LEFT JOIN qrels e
         |    ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id),
         |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM qrels GROUP BY 1),
         |agg AS (
         |  SELECT query_id,
         |         max(CASE WHEN rel = 1 THEN CAST(round(1e9 / rank) AS BIGINT) ELSE 0 END) AS mrr_nano,
         |         CAST(sum(CASE WHEN rel = 1 THEN CASE rank $discCase ELSE 0 END ELSE 0 END) AS BIGINT) AS dcg_nano,
         |         CAST(sum(rel) AS BIGINT) AS n_hit
         |  FROM j GROUP BY 1)
         |SELECT a.query_id, mrr_nano,
         |       CAST(round(dcg_nano * 1e9 / (CASE least(n_rel, 5) $idcgCase END)) AS BIGINT) AS ndcg_nano,
         |       CAST(round(n_hit * 1e9 / n_rel) AS BIGINT) AS recall_nano
         |FROM agg a JOIN nrel USING (query_id)""".stripMargin
    },

    // weak-labels replay: LF votes from the same exact counts, the
    // 8-counter agreement stats, micro-unit weights via one rounded
    // division of exact ints (positive → half-up == half-away), and
    // the integer dot-product score
    // component-label propagation replay: the exact 5-gram jaccard
    // pair set + recursive closure (the q_dup_component_sizes block),
    // the shared weak-label CTEs, then the per-root majority vote with
    // the (n DESC, min member id) tie order
    "q_component_labels" -> ("WITH RECURSIVE\n" +
      """grams AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
        |  FROM (SELECT doc_id, text,
        |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
        |        FROM documents)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
        |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT ia, ib FROM inter
        |          JOIN sizes sa ON sa.doc_id = ia
        |          JOIN sizes sb ON sb.doc_id = ib
        |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
        |edges AS (SELECT ia AS s, ib AS d FROM pairs
        |          UNION SELECT ib, ia FROM pairs),
        |reach AS (SELECT s, d FROM edges
        |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        |roots AS (SELECT s AS id, least(s, min(d)) AS root
        |          FROM reach GROUP BY s),
        |""".stripMargin + WeakLabelVoteCtes + ",\n" +
      """wl AS (
        |  SELECT vm.doc_id,
        |         CAST(sign(lf_len * w_len + lf_stop * w_stop + lf_digit * w_digit
        |              + lf_upper * w_upper) AS BIGINT) AS label
        |  FROM vm, w),
        |rooted AS (
        |  SELECT wl.doc_id, coalesce(r.root, wl.doc_id) AS root, wl.label
        |  FROM wl LEFT JOIN roots r ON r.id = wl.doc_id),
        |tally AS (
        |  SELECT root, label, count(*) AS n, min(doc_id) AS min_id
        |  FROM rooted GROUP BY 1, 2),
        |comp AS (
        |  SELECT root, label AS comp_label FROM (
        |    SELECT *, row_number() OVER (PARTITION BY root
        |                ORDER BY n DESC, min_id) AS rk
        |    FROM tally)
        |  WHERE rk = 1)
        |SELECT rooted.doc_id, rooted.root, rooted.label AS own_label,
        |       comp.comp_label,
        |       CAST(CASE WHEN rooted.label <> comp.comp_label THEN 1 ELSE 0 END AS BIGINT) AS changed
        |FROM rooted JOIN comp USING (root)""".stripMargin),

    "q_weak_labels" -> ("WITH " + WeakLabelVoteCtes + "\n" +
      s"""         |SELECT vm.doc_id,
         |       CAST(lf_len AS BIGINT) AS lf_len,
         |       CAST(lf_stop AS BIGINT) AS lf_stop,
         |       CAST(lf_digit AS BIGINT) AS lf_digit,
         |       CAST(lf_upper AS BIGINT) AS lf_upper,
         |       CAST(lf_len * w_len + lf_stop * w_stop + lf_digit * w_digit
         |            + lf_upper * w_upper AS BIGINT) AS score_micro,
         |       CAST(sign(lf_len * w_len + lf_stop * w_stop + lf_digit * w_digit
         |            + lf_upper * w_upper) AS BIGINT) AS label
         |FROM vm, w""".stripMargin),

    // contrastive-pairs replay: the exact top block labels positive /
    // hard_neg by cosine rank; the random block re-ranks the REST by
    // the same md5("rnd:"+q+":"+c) draw the engine's bounded heap uses
    "q_contrastive_pairs" ->
      """WITH ex AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |              ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM ex),
        |tops AS (
        |  SELECT query_id,
        |         CASE WHEN rk = 1 THEN 'positive' ELSE 'hard_neg' END AS role,
        |         CAST(rk AS BIGINT) AS rank, neighbor_id,
        |         CAST(round(cosine * 1e9) AS BIGINT) AS cos_nano
        |  FROM ranked WHERE rk <= 4),
        |rest AS (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY substring(md5('rnd:' || query_id || ':' || neighbor_id), 1, 12),
        |                    neighbor_id) AS rr
        |  FROM ranked WHERE rk > 4)
        |SELECT * FROM tops
        |UNION ALL
        |SELECT query_id, 'rand_neg' AS role, CAST(rr AS BIGINT) AS rank,
        |       neighbor_id, CAST(round(cosine * 1e9) AS BIGINT) AS cos_nano
        |FROM rest WHERE rr <= 4""".stripMargin,

    // MaxSim replay: per-(query token, doc) max then per-(query, doc)
    // sum over integer nano-unit cosines — round(cos·1e9) is the same
    // granularity bridge as the proven round(cos, 9)
    "q_maxsim" ->
      """WITH tok AS (
        |  SELECT vec_id // 8 AS doc_id, embedding FROM embeddings),
        |q AS (
        |  SELECT vec_id // 8 AS query_doc, vec_id AS q_tok, embedding AS qe
        |  FROM embeddings WHERE vec_id // 8 < 4),
        |pairs AS (
        |  SELECT q.query_doc, q.q_tok, t.doc_id,
        |         CAST(round(list_cosine_similarity(t.embedding::DOUBLE[], q.qe::DOUBLE[]) * 1e9) AS BIGINT) AS cos_nano
        |  FROM tok t, q WHERE t.doc_id <> q.query_doc),
        |best AS (
        |  SELECT query_doc, q_tok, doc_id, max(cos_nano) AS best_nano
        |  FROM pairs GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT query_doc, doc_id, CAST(sum(best_nano) AS BIGINT) AS score_nano
        |  FROM best GROUP BY 1, 2)
        |SELECT query_doc, CAST(rank AS BIGINT) AS rank, doc_id, score_nano
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_doc
        |                 ORDER BY score_nano DESC, doc_id) AS rank
        |      FROM scored)
        |WHERE rank <= 5""".stripMargin,

    // the whole multimodal plumbing is oracle-checkable: the ordered
    // entropy sum (ORDER BY code) replicates the decoder's ascending
    // histogram walk bit-for-bit
    // byte-exact (r11 adversarial fix): the engine decoder reads UTF-8
    // PAYLOAD bytes, so the oracle extracts bytes via hex(encode(text))
    // slices — the earlier ord(substr(text,...)) form used CODEPOINTS
    // weighted by char counts (identical only on ASCII) and its inner
    // stats join dropped empty-payload docs the decoder still emits
    "q_multimodal_meta" ->
      """WITH b AS (
        |  SELECT doc_id AS media_id,
        |         hex(encode(text)) AS hs,
        |         octet_length(encode(text)) AS nb,
        |         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |              WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |              ELSE 'video/mp4' END AS mime,
        |         CAST(length(text) AS BIGINT) AS n_bytes
        |  FROM documents),
        |codes AS (
        |  SELECT media_id, CAST('0x' || substring(hs, 2*i - 1, 2) AS INT) AS code
        |  FROM (SELECT media_id, hs, unnest(range(1, nb + 1)) AS i FROM b)),
        |hist AS (SELECT media_id, code, count(*) AS c FROM codes GROUP BY 1, 2),
        |stats AS (
        |  SELECT h.media_id,
        |         CAST(sum(c * code) AS DOUBLE) / any_value(greatest(nb, 1)) AS mean_raw,
        |         -sum((CAST(c AS DOUBLE) / nb) * ln(CAST(c AS DOUBLE) / nb) / ln(2) ORDER BY code) AS ent_raw
        |  FROM hist h JOIN b USING (media_id) GROUP BY h.media_id)
        |SELECT b.media_id, mime, n_bytes,
        |       CAST(greatest(1, floor(sqrt(CAST(greatest(nb, 1) AS DOUBLE)))) AS INTEGER) AS width,
        |       CAST(greatest(1, floor(sqrt(CAST(greatest(nb, 1) AS DOUBLE)))) AS INTEGER) AS height,
        |       coalesce(mean_raw, 0.0) AS mean_intensity,
        |       round(coalesce(ent_raw, 0.0), 4) + 0.0 AS byte_entropy
        |FROM b LEFT JOIN stats USING (media_id)""".stripMargin,

    // the oracle derives every field from the GENERATOR's arithmetic
    // (never looking at the bytes), while the Spark side PARSES the
    // container structure — agreement proves the parse. Header
    // overheads are structural constants: PNG 8 sig + 25 IHDR + 12 IDAT
    // + 12 IEND = 57; JPEG 2 SOI + 18 APP0 + 19 SOF0 + 14 SOS + 2 EOI
    // = 55; WAV 12 RIFF + 24 fmt + 8 data-header = 44.
    "q_media_dims" ->
      """WITH b AS (
        |  SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS bl FROM documents),
        |f AS (
        |  SELECT id, bl,
        |         CASE id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'jpeg' END AS fmt,
        |         CASE WHEN id % 3 = 1 THEN 2 * (1 + id % 2) ELSE 0 END AS block
        |  FROM b)
        |SELECT id AS media_id, fmt,
        |  CAST(CASE id % 3 WHEN 0 THEN 16 + id % 317
        |       WHEN 2 THEN 16 + id % 251 ELSE 0 END AS INTEGER) AS width,
        |  CAST(CASE id % 3 WHEN 0 THEN 16 + (id * 7) % 211
        |       WHEN 2 THEN 16 + (id * 5) % 173 ELSE 0 END AS INTEGER) AS height,
        |  CAST(CASE WHEN id % 3 = 1 THEN 1 + id % 2 ELSE 0 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN id % 3 = 1 THEN 8000 * (1 + (id // 3) % 3) ELSE 0 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN id % 3 = 1 THEN (bl - bl % block) // block ELSE 0 END AS BIGINT) AS n_samples,
        |  CAST(CASE id % 3 WHEN 0 THEN 57 + bl WHEN 2 THEN 55 + bl
        |       ELSE 44 + bl - bl % block END AS BIGINT) AS n_bytes
        |FROM f""".stripMargin,

    "q_event_windows" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_event_sliding" ->
      """SELECT strftime(time_bucket(INTERVAL '30 minutes', ts)
        |                  - to_minutes(30 * k), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
        |GROUP BY 1, 2""".stripMargin,

    "q_fuzzy_join" ->
      """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
        |       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin,

    "q_top_ngrams" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    "q_gopher_repetition" ->
      """WITH pw AS (
        |  SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) > 0
        |  GROUP BY doc_id, w)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_words,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS distinct_ratio,
        |       round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_word_share,
        |       (count(*) / CAST(sum(c) AS DOUBLE) >= 0.3
        |        AND max(c) / CAST(sum(c) AS DOUBLE) <= 0.2) AS gopher_pass
        |FROM pw GROUP BY doc_id""".stripMargin,

    "q_boilerplate_ngrams" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(ws) >= 8
        |           THEN list_transform(generate_series(1, len(ws) - 7),
        |                               i -> array_to_string(ws[i:i+7], ' '))
        |           ELSE [] END) AS ngram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
        |SELECT ngram,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occ
        |FROM sh GROUP BY ngram HAVING count(DISTINCT doc_id) >= 2""".stripMargin,

    "q_mix_temperature" ->
      """WITH s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CASE WHEN length(text) = 0 THEN 0
        |                       ELSE len(string_split(text, ' ')) END) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |d AS (
        |  SELECT sum(sqrt(CAST(tokens AS DOUBLE)) ORDER BY source) AS denom,
        |         sum(tokens) AS tot
        |  FROM s)
        |SELECT source, n_docs, tokens,
        |       round(sqrt(CAST(tokens AS DOUBLE)) / denom, 6) AS weight,
        |       round(CAST(tokens AS DOUBLE) / tot, 6) AS natural_share,
        |       round(sqrt(CAST(tokens AS DOUBLE)) / denom
        |             / (CAST(tokens AS DOUBLE) / tot), 6) AS boost
        |FROM s, d""".stripMargin,

    "q_ewma_volume" ->
      """WITH daily AS (
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
        |GROUP BY a.event_type, a.day, a.n""".stripMargin,

    // PSI drift replay: same add-half-doubled integer quotients, same
    // quotient-then-multiply double into ln, single round per micro
    // column (the q_dsir_weights exactness posture); the bin spine
    // makes empty bins explicit in both engines
    "q_drift_psi" ->
      """WITH b AS (
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
        |FROM per ORDER BY bin""".stripMargin,

    "q_interpolate" ->
      """WITH daily AS (
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
        |FROM w""".stripMargin,

    "q_k_anonymity" ->
      """SELECT n_name, c_mktsegment,
        |       CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
        |       CAST(count(*) AS BIGINT) AS n,
        |       (count(*) >= 10) AS k_anonymous,
        |       CAST(1000000 // count(*) AS BIGINT) AS reident_risk_ppm
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2, 3""".stripMargin,

    "q_bpe_pairs" ->
      """WITH p AS (
        |  SELECT unnest(CASE WHEN len(ws) >= 2
        |           THEN list_transform(generate_series(1, len(ws) - 1),
        |                               i -> array_to_string(ws[i:i+1], ' '))
        |           ELSE [] END) AS pair
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents))
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 30""".stripMargin,

    // BPE merge-loop replay (3 unrolled rounds): the engine merges
    // greedily left-to-right with a per-row fold; the relational
    // equivalent selects, among each doc's match positions, those at an
    // EVEN offset within their consecutive-match island (overlapping
    // matches only arise as runs, and the fold takes the 1st, 3rd, …
    // of each run) — gaps-and-islands parity, then re-number the
    // surviving tokens and repeat
    "q_bpe_merges" ->
      """WITH t1 AS (
        |  SELECT doc_id, i AS pos, ws[i] AS w
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
        |c1 AS (
        |  SELECT w AS a, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b,
        |         doc_id, pos
        |  FROM t1),
        |b1 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM c1
        |       WHERE b IS NOT NULL GROUP BY a, b
        |       ORDER BY n DESC, a ASC, b ASC LIMIT 1),
        |s1 AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, pos - min(pos) OVER (PARTITION BY doc_id, isl) AS off
        |    FROM (SELECT m.doc_id, m.pos,
        |                 m.pos - ROW_NUMBER() OVER (PARTITION BY m.doc_id ORDER BY m.pos) AS isl
        |          FROM c1 m, b1 WHERE m.a = b1.a AND m.b = b1.b))
        |  WHERE off % 2 = 0),
        |t2 AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos, w
        |  FROM (
        |    SELECT tt.doc_id, tt.pos,
        |           CASE WHEN sm.pos IS NOT NULL THEN tt.w || ' ' || tt.nxt
        |                ELSE tt.w END AS w,
        |           sp.pos AS consumed
        |    FROM (SELECT doc_id, pos, w,
        |                 lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |          FROM t1) tt
        |    LEFT JOIN s1 sm ON sm.doc_id = tt.doc_id AND sm.pos = tt.pos
        |    LEFT JOIN s1 sp ON sp.doc_id = tt.doc_id AND sp.pos = tt.pos - 1)
        |  WHERE consumed IS NULL),
        |c2 AS (
        |  SELECT w AS a, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b,
        |         doc_id, pos
        |  FROM t2),
        |b2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM c2
        |       WHERE b IS NOT NULL GROUP BY a, b
        |       ORDER BY n DESC, a ASC, b ASC LIMIT 1),
        |s2 AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, pos - min(pos) OVER (PARTITION BY doc_id, isl) AS off
        |    FROM (SELECT m.doc_id, m.pos,
        |                 m.pos - ROW_NUMBER() OVER (PARTITION BY m.doc_id ORDER BY m.pos) AS isl
        |          FROM c2 m, b2 WHERE m.a = b2.a AND m.b = b2.b))
        |  WHERE off % 2 = 0),
        |t3 AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos, w
        |  FROM (
        |    SELECT tt.doc_id, tt.pos,
        |           CASE WHEN sm.pos IS NOT NULL THEN tt.w || ' ' || tt.nxt
        |                ELSE tt.w END AS w,
        |           sp.pos AS consumed
        |    FROM (SELECT doc_id, pos, w,
        |                 lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |          FROM t2) tt
        |    LEFT JOIN s2 sm ON sm.doc_id = tt.doc_id AND sm.pos = tt.pos
        |    LEFT JOIN s2 sp ON sp.doc_id = tt.doc_id AND sp.pos = tt.pos - 1)
        |  WHERE consumed IS NULL),
        |c3 AS (
        |  SELECT w AS a, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b,
        |         doc_id, pos
        |  FROM t3),
        |b3 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM c3
        |       WHERE b IS NOT NULL GROUP BY a, b
        |       ORDER BY n DESC, a ASC, b ASC LIMIT 1)
        |SELECT CAST(1 AS INT) AS merge_round, a || ' + ' || b AS pair, n FROM b1
        |UNION ALL
        |SELECT CAST(2 AS INT), a || ' + ' || b, n FROM b2
        |UNION ALL
        |SELECT CAST(3 AS INT), a || ' + ' || b, n FROM b3
        |ORDER BY merge_round""".stripMargin,

    // collocation replay: same split/enumeration as q_bpe_pairs, the
    // integer verdict in HUGEINT (the engine's decimal(38,0)), the
    // informational lift as the identically-formed double chain
    "q_collocations" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uc AS (SELECT t, count(*) AS c
        |       FROM (SELECT unnest(w) AS t FROM ws) GROUP BY t),
        |n AS (SELECT sum(c) AS nt FROM uc),
        |bc AS (SELECT w1, w2, count(*) AS pair_count
        |       FROM (SELECT w[i] AS w1, w[i + 1] AS w2
        |             FROM ws, unnest(range(1, len(w))) AS u(i))
        |       GROUP BY 1, 2),
        |j AS (SELECT bc.w1, bc.w2, pair_count, u1.c AS c1, u2.c AS c2, nt
        |      FROM bc JOIN uc u1 ON u1.t = bc.w1
        |              JOIN uc u2 ON u2.t = bc.w2, n
        |      WHERE pair_count > 5)
        |SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count,
        |       CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
        |       CAST(round((pair_count - 5)::DOUBLE * nt * 1e6
        |                  / ((c1::DOUBLE) * c2)) AS BIGINT) AS lift_micro,
        |       ((pair_count - 5)::HUGEINT * nt > (c1 * 1)::HUGEINT * c2)
        |         AS is_phrase
        |FROM j
        |ORDER BY lift_micro DESC, w1 ASC, w2 ASC LIMIT 30""".stripMargin,

    "q_curation_lineage" -> {
      val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
      val cases = TextAnalysis.LangMarkers.map { case (lang, words) =>
        val set = words.map(w => s"'$w'").mkString(", ")
        (lang, s"len(list_filter(string_split(text, ' '), t -> t IN ($set)))")
      }
      val hitDefs = cases.map { case (l, e) => s"$e AS h_$l" }.mkString(", ")
      val gmax = cases.map(c => s"h_${c._1}").mkString("greatest(", ", ", ")")
      val hitCols = cases.map(c => s"h_${c._1}").mkString(", ")
      val whens = cases.map { case (l, _) =>
        s"WHEN h_$l = gmax AND gmax > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH lang AS (
         |  SELECT doc_id, CASE $whens ELSE 'und' END AS lang_guess
         |  FROM (SELECT doc_id, $gmax AS gmax, $hitCols
         |        FROM (SELECT doc_id, $hitDefs FROM documents))),
         |qual AS (
         |  SELECT doc_id,
         |       CAST(CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
         |             + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
         |             + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
         |                         AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
         |             - least(CASE WHEN length(text) = 0 THEN 0.0
         |                          ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
         |             ) * 10000.0 + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS quality
         |  FROM (SELECT doc_id, text,
         |               CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
         |               CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits
         |        FROM documents)),
         |rep AS (
         |  SELECT doc_id, sum(c) AS nw, count(*) AS nd, max(c) AS tc
         |  FROM (SELECT doc_id, w, count(*) AS c
         |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |        WHERE length(w) > 0 GROUP BY doc_id, w)
         |  GROUP BY doc_id),
         |fpt AS (SELECT doc_id, md5(text) AS fp FROM documents),
         |keepers AS (SELECT fp, min(doc_id) AS keeper FROM fpt GROUP BY fp)
         |SELECT d.doc_id,
         |       (lang_guess <> 'en') AS lang_fail,
         |       (quality < 0.45) AS quality_fail,
         |       (nd / CAST(nw AS DOUBLE) < 0.3 OR tc / CAST(nw AS DOUBLE) > 0.2) AS repetition_fail,
         |       (d.doc_id <> keeper) AS dup_loser,
         |       (NOT (lang_guess <> 'en') AND NOT (quality < 0.45)
         |        AND NOT (nd / CAST(nw AS DOUBLE) < 0.3 OR tc / CAST(nw AS DOUBLE) > 0.2)
         |        AND d.doc_id = keeper) AS kept
         |FROM documents d
         |JOIN lang USING (doc_id) JOIN qual USING (doc_id)
         |JOIN rep USING (doc_id) JOIN fpt USING (doc_id)
         |JOIN keepers USING (fp)""".stripMargin
    },

    "q_lm_quality" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |big AS (
        |  SELECT doc_id, i AS pos, ws[i] AS w1, ws[i + 1] AS w2
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |        FROM w WHERE len(ws) >= 2)),
        |ctx AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        |prs AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        |voc AS (SELECT count(DISTINCT wd) AS v
        |        FROM (SELECT unnest(string_split(text, ' ')) AS wd FROM documents)),
        |terms AS (
        |  SELECT b.doc_id, b.pos,
        |         ln(CAST(p.c12 + 1 AS DOUBLE) / (c.c1 + voc.v)) AS logp
        |  FROM big b JOIN prs p ON b.w1 = p.w1 AND b.w2 = p.w2
        |             JOIN ctx c ON b.w1 = c.w1, voc)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(-sum(logp ORDER BY pos) / count(*), 6) AS cross_entropy
        |FROM terms GROUP BY doc_id""".stripMargin,

    "q_padding_waste" ->
      """WITH t AS (
        |  SELECT source,
        |         CAST(CASE WHEN length(text) = 0 THEN 0
        |                   ELSE len(string_split(text, ' ')) END AS BIGINT) AS t
        |  FROM documents),
        |s AS (SELECT source, t, (t + 63) // 64 AS s64, (t + 127) // 128 AS s128 FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(t) AS BIGINT) AS tokens,
        |       CAST(sum(s64) AS BIGINT) AS seqs_64,
        |       CAST(sum(s64 * 64 - t) AS BIGINT) AS waste_64,
        |       CAST(sum(s64 * 64 - t) * 10000 // (sum(s64) * 64) AS BIGINT) AS waste_bp_64,
        |       CAST(sum(s128) AS BIGINT) AS seqs_128,
        |       CAST(sum(s128 * 128 - t) AS BIGINT) AS waste_128,
        |       CAST(sum(s128 * 128 - t) * 10000 // (sum(s128) * 128) AS BIGINT) AS waste_bp_128
        |FROM s GROUP BY source""".stripMargin,

    "q_chunk_docs" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS start,
        |       CAST(length(substr(text, i, 120)) AS BIGINT) AS chunk_len,
        |       md5(substr(text, i, 120)) AS chunk_md5
        |FROM (SELECT doc_id, text,
        |             unnest(generate_series(1, greatest(length(text) - 20, 1), 100)) AS i
        |      FROM documents)""".stripMargin,

    // same chunk derivation as q_chunk_docs; keeper via the rn=1 row of
    // the (doc_id, start) order — the SQL analog of min(struct)
    "q_chunk_dedup" ->
      """WITH c AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS start, md5(substr(text, i, 120)) AS h
        |  FROM (SELECT doc_id, text,
        |               unnest(generate_series(1, greatest(length(text) - 20, 1), 100)) AS i
        |        FROM documents)),
        |sel AS (SELECT h, doc_id, start,
        |               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
        |        FROM c),
        |agg AS (SELECT h, CAST(count(*) AS BIGINT) AS n_copies,
        |               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |        FROM c GROUP BY 1)
        |SELECT a.h AS chunk_md5, n_copies, n_docs,
        |       s.doc_id AS keep_doc_id, s.start AS keep_start
        |FROM agg a JOIN sel s ON s.h = a.h AND s.rn = 1
        |WHERE n_copies > 1""".stripMargin,

    "q_mix_upsample" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |         CAST(coalesce(TRY_CAST(substr(source, 4, 10) AS INT) % 3 + 1, 1)
        |              AS INT) AS w
        |  FROM documents),
        |rep AS (
        |  SELECT doc_id, source, w, unnest(range(1, w + 1)) AS copy_idx FROM w)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(max(w) AS BIGINT) AS weight
        |FROM rep GROUP BY source""".stripMargin,

    "q_table_checksum" ->
      """SELECT CAST(sum(CAST(('0x' || substr(
        |         md5(o_orderkey || '|' || o_orderstatus || '|'
        |             || CAST(round(o_totalprice * 100) AS BIGINT)), 1, 8))
        |         AS BIGINT)) AS BIGINT) AS checksum,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM orders""".stripMargin,

    "q_domain_cap" ->
      """WITH h AS (
        |  SELECT doc_id, source, md5(text) AS h FROM documents),
        |r AS (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY h ASC, doc_id ASC) AS rn
        |  FROM h)
        |SELECT source, CAST(rn AS BIGINT) AS rn, doc_id
        |FROM r WHERE rn <= 15""".stripMargin,

    "q_pack_chunks" ->
      """WITH chunks AS (
        |  SELECT d.doc_id, d.source, i AS start,
        |         CAST(CASE WHEN length(substr(d.text, CAST(i AS INT), 120)) = 0 THEN 0
        |              ELSE len(string_split(substr(d.text, CAST(i AS INT), 120), ' ')) END AS BIGINT) AS n_tok
        |  FROM (SELECT doc_id, source, text,
        |               unnest(generate_series(1, greatest(length(text) - 20, 1), 100)) AS i
        |        FROM documents) d),
        |packed AS (
        |  SELECT source,
        |         CAST(floor((sum(n_tok) OVER (PARTITION BY source
        |                       ORDER BY doc_id, start
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                     - n_tok) / 128.0) AS BIGINT) AS pack_id,
        |         n_tok
        |  FROM chunks)
        |SELECT source, pack_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM packed GROUP BY 1, 2""".stripMargin,

    // global packing oracle: the straightforward single global window —
    // exactly what the two-phase bucket decomposition must reproduce
    "q_pack_global" ->
      """WITH chunks AS (
        |  SELECT d.doc_id, d.source, i AS start,
        |         CAST(CASE WHEN length(substr(d.text, CAST(i AS INT), 120)) = 0 THEN 0
        |              ELSE len(string_split(substr(d.text, CAST(i AS INT), 120), ' ')) END AS BIGINT) AS n_tok
        |  FROM (SELECT doc_id, source, text,
        |               unnest(generate_series(1, greatest(length(text) - 20, 1), 100)) AS i
        |        FROM documents) d),
        |packed AS (
        |  SELECT source,
        |         CAST(floor((sum(n_tok) OVER (ORDER BY doc_id, start
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                     - n_tok) / 128.0) AS BIGINT) AS pack_id,
        |         n_tok
        |  FROM chunks)
        |SELECT pack_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM packed GROUP BY 1""".stripMargin,

    "q_redact_pii" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(t, '[A-Za-z0-9_.]+@[A-Za-z0-9.]+')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(t, '[0-9]{6,}')) AS BIGINT) AS n_longnums,
        |       md5(regexp_replace(regexp_replace(t, '[A-Za-z0-9_.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
        |                          '[0-9]{6,}', '<NUM>', 'g')) AS red_md5
        |FROM (SELECT doc_id,
        |             text || ' contact u' || CAST(doc_id AS VARCHAR)
        |                  || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com ref '
        |                  || CAST(doc_id * 1000003 AS VARCHAR) AS t
        |      FROM documents)""".stripMargin,

    "q_split_assign" ->
      """SELECT split, CAST(count(*) AS BIGINT) AS n_docs
        |FROM (SELECT CASE WHEN b < 80 THEN 'train'
        |                  WHEN b < 90 THEN 'val'
        |                  ELSE 'test' END AS split
        |      FROM (SELECT CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 100 AS b
        |            FROM documents))
        |GROUP BY split""".stripMargin,

    "q_outer_join" ->
      s"""SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_name,
         |       COALESCE(n_orders, 0) AS n_orders
         |FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 500) c
         |FULL JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
         |           FROM orders WHERE year(o_orderdate) = $P0
         |           GROUP BY o_custkey) o
         |ON c_custkey = o_custkey""".stripMargin,

    "q_cumulative" ->
      """SELECT o_orderpriority, month,
        |       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
        |       CAST(sum(rev_cents) OVER (PARTITION BY o_orderpriority ORDER BY month
        |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS cum_revenue,
        |       cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY month) AS cd,
        |       percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY month) AS pr
        |FROM (SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
        |             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |      FROM orders GROUP BY 1, 2)""".stripMargin,

    "q_profile" -> Seq("l_quantity", "l_discount", "l_returnflag").map { c =>
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |       CAST(min($c) AS VARCHAR) AS min_str,
         |       CAST(max($c) AS VARCHAR) AS max_str,
         |       '$c' AS column_name
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n"),

    "q_embed_centroids" ->
      """SELECT label, CAST(pos AS BIGINT) AS pos, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / count(*) AS mean
        |FROM (SELECT label, unnest(embedding) AS x,
        |             generate_subscripts(embedding, 1) - 1 AS pos
        |      FROM embeddings)
        |GROUP BY label, pos""".stripMargin,

    "q_asof_join" ->
      """SELECT l.event_id, l.user_id,
        |       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       r.event_id AS asof_view_event_id,
        |       r.value AS asof_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    "q_asof_exec" ->
      """SELECT l.event_id, l.user_id,
        |       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       r.event_id AS asof_view_event_id,
        |       r.value AS asof_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    // forward as-of: earliest view at or after each click; tiebreak at
    // equal view timestamps = greatest (event_id) — the same
    // "lexicographically greatest right struct" rule as the Spark side
    "q_asof_forward" ->
      """SELECT l.event_id, l.user_id,
        |       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       r.asof_view_event_id, r.asof_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |LEFT JOIN LATERAL (
        |  SELECT v.event_id AS asof_view_event_id, v.value AS asof_view_value
        |  FROM events v
        |  WHERE v.event_type = 'view' AND v.user_id = l.user_id AND v.ts >= l.ts
        |  ORDER BY v.ts ASC, v.event_id DESC
        |  LIMIT 1) r ON TRUE""".stripMargin,

    // nearest as-of: min |gap| in floored milliseconds, ties prefer the
    // backward (at-or-before) match, then greatest event_id
    "q_asof_nearest" ->
      """SELECT l.event_id, l.user_id,
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
        |  LIMIT 1) r ON TRUE""".stripMargin,

    "q_corpus_pipeline" ->
      (CurationPipelineCte +
        """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
          |       CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 / count(*) AS mean_quality
          |FROM kept
          |WHERE NOT EXISTS (SELECT 1 FROM reach WHERE s = doc_id AND d < doc_id)
          |GROUP BY source""".stripMargin),

    // provenance = the same curation replay, but emitting the per-
    // survivor record: closure root via the reachability min, family
    // aggregates, and the transform chain re-built from the same fields
    "q_provenance" ->
      (CurationPipelineCte +
        """,lbl AS (SELECT doc_id,
          |         least(doc_id, coalesce(
          |           (SELECT min(r.d) FROM reach r WHERE r.s = kept.doc_id),
          |           doc_id)) AS root
          |       FROM kept),
          |fam AS (SELECT root, CAST(count(*) AS BIGINT) AS n_family,
          |               CAST(sum(doc_id) AS BIGINT) AS family_id_sum
          |        FROM lbl GROUP BY root)
          |SELECT k.doc_id, k.source,
          |       CAST(round(k.quality * 10000) AS BIGINT) AS quality_milli,
          |       k.n_tokens, f.n_family, f.family_id_sum,
          |       'ingest:' || k.source || '>lang:en>quality:' ||
          |         CAST(CAST(round(k.quality * 10000) AS BIGINT) AS VARCHAR) ||
          |         '>dedup:family=' || CAST(f.n_family AS VARCHAR) AS transform_chain
          |FROM lbl l JOIN kept k ON l.doc_id = k.doc_id
          |JOIN fam f ON l.root = f.root
          |WHERE l.doc_id = l.root""".stripMargin),

    "q_interval_merge" ->
      """WITH iv AS (
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
        |FROM islands GROUP BY user_id, island""".stripMargin,

    "q_mad_outliers" ->
      """WITH pc AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem),
        |med AS (SELECT flag, quantile_cont(pc, 0.5) AS med FROM pc GROUP BY flag),
        |dev AS (SELECT pc.flag, pc.pc, med.med, abs(pc.pc - med.med) AS dev
        |        FROM pc JOIN med ON pc.flag = med.flag),
        |mad AS (SELECT flag, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY flag)
        |SELECT dev.flag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN dev.dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       any_value(dev.med) AS med_cents, any_value(mad.mad) AS mad_cents
        |FROM dev JOIN mad ON dev.flag = mad.flag
        |GROUP BY dev.flag""".stripMargin,

    "q_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok2 GROUP BY doc_id),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok2 GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM tok2) GROUP BY term),
        |corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                  CAST(sum(dl) AS DOUBLE) AS tot_dl FROM dl),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         round(ln((c.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |               * (tf.tf * 2.2)
        |               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (c.tot_dl / c.n_docs))), 6) AS bm25
        |  FROM tf JOIN df ON tf.term = df.term
        |          JOIN dl ON tf.doc_id = dl.doc_id
        |          CROSS JOIN corpus c
        |  WHERE tf.doc_id < 20)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, bm25
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                 ORDER BY bm25 DESC, term ASC) AS rnk
        |      FROM scored)
        |WHERE rnk <= 5""".stripMargin,

    // same BM25 arithmetic conventions as q_bm25's oracle (2.2 literal,
    // (0.75·dl)/avgdl grouping); contributions integer-ized per term
    // BEFORE the per-doc sum so aggregation order cannot matter, RRF in
    // exact integer nanos — every ranked comparison is on integers
    "q_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok2 GROUP BY doc_id),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok2 GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM tok2) GROUP BY term),
        |corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                  CAST(sum(dl) AS DOUBLE) AS tot_dl FROM dl),
        |qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM tok2 WHERE doc_id < 5),
        |text_scored AS (
        |  SELECT q.query_id, tf.doc_id,
        |         CAST(sum(CAST(floor(
        |           ln((c.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |           * (tf.tf * 2.2)
        |           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (c.tot_dl / c.n_docs)))
        |           * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS bm25_micro
        |  FROM qterms q
        |  JOIN tf ON tf.term = q.term AND tf.doc_id <> q.query_id
        |  JOIN df ON df.term = q.term
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN corpus c
        |  GROUP BY 1, 2),
        |text_top AS (
        |  SELECT query_id, doc_id, rt FROM (
        |    SELECT query_id, doc_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |             ORDER BY bm25_micro DESC, doc_id ASC) AS rt
        |    FROM text_scored) WHERE rt <= 20),
        |vec_top AS (
        |  SELECT query_id, doc_id, rv FROM (
        |    SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
        |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY round(list_cosine_similarity(
        |               e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) DESC,
        |               e.vec_id ASC) AS rv
        |    FROM embeddings e, embeddings q
        |    WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) WHERE rv <= 20),
        |fused AS (
        |  SELECT query_id, doc_id,
        |         CAST(coalesce(1000000000 // (60 + rt), 0)
        |            + CAST(coalesce(1000000000 // (60 + rv), 0) AS BIGINT) AS BIGINT) AS rrf_nano
        |  FROM text_top FULL OUTER JOIN vec_top USING (query_id, doc_id))
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_nano
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |                 ORDER BY rrf_nano DESC, doc_id ASC) AS rank
        |      FROM fused)
        |WHERE rank <= 10""".stripMargin,

    // pure repeated-squaring arithmetic — every step is an IEEE basic
    // op (one division + multiplications), bit-identical in any engine;
    // no pow()/ln() whose libm rounding could differ
    "q_lsh_scurve" ->
      """WITH grid AS (SELECT unnest(range(1, 20)) * 5 AS j_centi),
        |confs AS (SELECT * FROM (VALUES (32, 2), (16, 4), (8, 8), (4, 16))
        |          AS t(bands, rows_per_band)),
        |c AS (SELECT bands, rows_per_band, j_centi,
        |             CAST(j_centi AS DOUBLE) / 100.0 AS j
        |      FROM grid CROSS JOIN confs),
        |s1 AS (SELECT *, j * j AS j2 FROM c),
        |s2 AS (SELECT *, j2 * j2 AS j4 FROM s1),
        |s3 AS (SELECT *, j4 * j4 AS j8 FROM s2),
        |s4 AS (SELECT *, j8 * j8 AS j16 FROM s3),
        |x0 AS (SELECT bands, rows_per_band, j_centi,
        |              1.0 - CASE rows_per_band WHEN 2 THEN j2 WHEN 4 THEN j4
        |                    WHEN 8 THEN j8 ELSE j16 END AS x FROM s4),
        |x1 AS (SELECT *, x * x AS x2 FROM x0),
        |x2_ AS (SELECT *, x2 * x2 AS x4 FROM x1),
        |x3_ AS (SELECT *, x4 * x4 AS x8 FROM x2_),
        |x4_ AS (SELECT *, x8 * x8 AS x16 FROM x3_),
        |x5_ AS (SELECT *, x16 * x16 AS x32 FROM x4_)
        |SELECT bands, rows_per_band, CAST(j_centi AS BIGINT) AS j_centi,
        |       CAST(floor((1.0 - CASE bands WHEN 4 THEN x4 WHEN 8 THEN x8
        |            WHEN 16 THEN x16 ELSE x32 END) * 10000.0 + 0.5) AS BIGINT) AS p_bp
        |FROM x5_""".stripMargin,

    "q_weighted_sample" ->
      """WITH cum AS (
        |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS wt,
        |         CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM documents)
        |SELECT source, doc_id, wt, cum FROM cum
        |WHERE cum // 500 > (cum - wt) // 500""".stripMargin,

    "q_khop" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |edges AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |          FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |h1 AS (SELECT src, dst FROM edges WHERE src < 50),
        |h2 AS (SELECT h1.src, e2.dst FROM h1 JOIN edges e2 ON h1.dst = e2.src
        |       WHERE e2.dst <> h1.src),
        |reach AS (SELECT src, CAST(count(*) AS BIGINT) AS n_reach2
        |          FROM (SELECT src, dst FROM h1 UNION SELECT src, dst FROM h2)
        |          GROUP BY src),
        |direct AS (SELECT src, CAST(count(*) AS BIGINT) AS n_1hop FROM h1 GROUP BY src)
        |SELECT direct.src AS seed_part, n_1hop, n_reach2
        |FROM direct JOIN reach ON direct.src = reach.src""".stripMargin,

    "q_source_entropy" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |tok2 AS (SELECT source, term FROM tok WHERE length(term) > 0),
        |ct AS (SELECT source, term, CAST(count(*) AS BIGINT) AS ct
        |       FROM tok2 GROUP BY source, term),
        |tot AS (SELECT source, CAST(sum(ct) AS BIGINT) AS n,
        |               CAST(count(*) AS BIGINT) AS vocab
        |        FROM ct GROUP BY source),
        |terms AS (
        |  SELECT ct.source, tot.n, tot.vocab, ct.term,
        |         -(CAST(ct.ct AS DOUBLE) / tot.n) * ln(CAST(ct.ct AS DOUBLE) / tot.n) AS h_term
        |  FROM ct JOIN tot ON ct.source = tot.source),
        |folded AS (
        |  SELECT source, n, vocab,
        |         sum(h_term ORDER BY term) AS h
        |  FROM terms GROUP BY source, n, vocab)
        |SELECT source, n AS n_tokens, vocab,
        |       round(h, 6) AS entropy,
        |       round(h / ln(CAST(vocab AS DOUBLE)), 6) AS entropy_norm
        |FROM folded""".stripMargin,

    "q_dedup_incremental" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
        |  FROM (SELECT doc_id, text,
        |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
        |        FROM documents)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_d, b.doc_id AS id_o, count(*) AS i
        |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id <> b.doc_id
        |          WHERE a.doc_id % 5 = 4
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id_d, id_o FROM inter
        |          JOIN sizes sa ON sa.doc_id = id_d
        |          JOIN sizes sb ON sb.doc_id = id_o
        |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8)
        |SELECT d.doc_id,
        |       coalesce(bool_or(p.id_o % 5 <> 4), false) AS dup_of_existing,
        |       CAST(coalesce(sum(CASE WHEN p.id_o % 5 = 4 THEN 1 END), 0) AS BIGINT) AS n_delta_dups
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
        |LEFT JOIN pairs p ON p.id_d = d.doc_id
        |GROUP BY d.doc_id""".stripMargin,

    "q_rebase_index" ->
      """WITH monthly AS (
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
        |FROM monthly""".stripMargin,

    "q_event_dedup_hourly" ->
      """SELECT user_id, event_type, hour, event_id AS first_event_id, n_events
        |FROM (SELECT user_id, event_type, hour, event_id,
        |             row_number() OVER (PARTITION BY user_id, event_type, hour
        |               ORDER BY us, event_id) AS rn,
        |             CAST(count(*) OVER (PARTITION BY user_id, event_type, hour) AS BIGINT) AS n_events
        |      FROM (SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
        |                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour
        |            FROM events))
        |WHERE rn = 1""".stripMargin,

    "q_session_window" ->
      """WITH flagged AS (
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
        |FROM sessions GROUP BY user_id, s""".stripMargin,

    "q_simjoin_prefix" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 12) AS g
        |  FROM (SELECT doc_id, text,
        |               unnest(range(1, greatest(length(text) - 10, 2))) AS i
        |        FROM documents)),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
        |          FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b,
        |       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = ia
        |JOIN sizes sb ON sb.doc_id = ib
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8""".stripMargin,

    "q_dq_quarantine" ->
      """WITH agg AS (SELECT
        |  CAST(count(*) FILTER (NOT (l_quantity <= 45.0)) AS BIGINT) AS v1,
        |  CAST(count(*) FILTER (NOT (l_discount <= 0.08)) AS BIGINT) AS v2,
        |  CAST(count(*) FILTER (NOT (l_extendedprice >= 1000.0)) AS BIGINT) AS v3,
        |  CAST(count(*) FILTER (l_shipdate IS NULL) AS BIGINT) AS v4,
        |  CAST(count(*) FILTER (NOT (l_quantity <= 45.0 AND l_discount <= 0.08
        |        AND l_extendedprice >= 1000.0 AND l_shipdate IS NOT NULL)) AS BIGINT)
        |    AS rows_quarantined,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lineitem)
        |SELECT rule, n_violations, rows_quarantined, n_rows,
        |       round(CAST(n_violations AS DOUBLE) / n_rows, 6) AS violation_rate
        |FROM (SELECT unnest(['qty_le_45', 'discount_le_8pct', 'price_ge_1000',
        |                     'shipdate_present']) AS rule,
        |             unnest([v1, v2, v3, v4]) AS n_violations,
        |             rows_quarantined, n_rows
        |      FROM agg)""".stripMargin,

    "q_rank_transform" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (ORDER BY n_chars, doc_id) AS grank,
        |         count(*) OVER () AS n,
        |         percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pr
        |  FROM documents)
        |SELECT doc_id, source, n_chars,
        |       round(pr, 6) AS pr_in_source,
        |       (grank - 1) * 10 // n + 1 AS global_decile
        |FROM r""".stripMargin,

    "q_loo_encoding" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders),
        |g AS (SELECT o_custkey AS ck, CAST(sum(pc) AS BIGINT) AS s,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM o GROUP BY o_custkey)
        |SELECT o_orderkey, o_custkey,
        |       CAST(pc AS DOUBLE) / 100.0 AS price,
        |       round(CAST(s - pc AS DOUBLE) / (n - 1) / 100.0, 6) AS loo_mean_price
        |FROM o JOIN g ON o_custkey = ck
        |WHERE n > 1""".stripMargin,

    "q_cohort_ltv" ->
      """WITH o AS (
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
        |FROM grid""".stripMargin,

    "q_order_gaps" ->
      """WITH gaps AS (
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
        |GROUP BY c_mktsegment""".stripMargin,

    "q_inverted_index" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, term
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE length(term) > 0)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |       array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 10), ',')
        |         AS posting_head
        |FROM tok GROUP BY term
        |HAVING count(*) >= 5""".stripMargin,

    "q_winsorize" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders),
        |b AS (SELECT CAST(ceil(round(quantile_cont(pc, 0.05), 6)) AS BIGINT) AS lo,
        |             CAST(floor(round(quantile_cont(pc, 0.95), 6)) AS BIGINT) AS hi
        |      FROM o)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(pc) AS DOUBLE) / 100.0 AS raw_total,
        |       CAST(sum(greatest(least(pc, hi), lo)) AS DOUBLE) / 100.0 AS winsorized_total,
        |       CAST(sum(CASE WHEN pc < lo THEN 1 WHEN pc > hi THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clipped
        |FROM o CROSS JOIN b
        |GROUP BY o_custkey""".stripMargin,

    "q_minmax_scale" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem),
        |ext AS (SELECT l_returnflag AS rf, min(pc) AS mn, max(pc) AS mx
        |        FROM li GROUP BY l_returnflag)
        |SELECT l_orderkey, l_linenumber, l_returnflag,
        |       CAST(pc AS DOUBLE) / 100.0 AS price,
        |       round(CAST(pc - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE), 6) AS price_scaled
        |FROM li JOIN ext ON l_returnflag = rf
        |WHERE l_orderkey < 1000""".stripMargin,

    "q_pseudonymize" ->
      """SELECT substr(md5('graft-salt-v1:' || CAST(o_custkey AS VARCHAR)), 1, 16)
        |         AS cust_pseudo,
        |       strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |         AS revenue
        |FROM orders
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin,

    // row-level replay of the two-phase selection: a global cumsum over
    // (qm DESC, doc_id) — equivalent by construction (level cum =
    // last row's running cum; boundary split keeps the same prefix)
    "q_token_budget" -> {
      val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH q AS (
         |  SELECT doc_id, source,
         |         CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
         |           + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
         |           + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
         |                       AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
         |           - least(CASE WHEN length(text) = 0 THEN 0.0
         |                        ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
         |           ) * 10000.0 + 0.5) AS BIGINT) AS qm,
         |         CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS BIGINT) AS tok
         |  FROM (SELECT doc_id, source, text,
         |               CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
         |               CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits
         |        FROM documents)
         |),
         |b AS (SELECT CAST(sum(tok) // 2 AS BIGINT) AS budget FROM q),
         |ord AS (SELECT *, sum(tok) OVER (ORDER BY qm DESC, doc_id
         |                   ROWS UNBOUNDED PRECEDING) AS cum FROM q)
         |SELECT source, count(*) AS n_docs_selected,
         |       CAST(sum(tok) AS BIGINT) AS tokens_selected,
         |       min(qm) AS min_quality_milli
         |FROM ord, b WHERE cum <= budget
         |GROUP BY source""".stripMargin
    },

    "q_shuffle_shard" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS k
        |  FROM documents
        |),
        |sharded AS (
        |  SELECT doc_id, CAST(k % 8 AS INTEGER) AS shard,
        |         row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS pos
        |  FROM keyed
        |)
        |SELECT shard, count(*) AS n_docs,
        |       CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum,
        |       min(doc_id) AS first_doc
        |FROM sharded GROUP BY shard""".stripMargin,

    // bit-exact DSIR replay: same md5 feature hash (Spark conv(hex) ≡
    // DuckDB '0x…'::BIGINT), same doubled add-half smoothing, same
    // quotient-then-multiply double formed for ln, same micro-nat
    // rounding; per-doc sums are integer — order-free on both engines.
    "q_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, (lang = 'en') AS tgt,
        |         ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096 AS b
        |  FROM documents, LATERAL unnest(string_split(text, ' ')) AS u(w)
        |  WHERE length(w) > 0
        |),
        |counts AS (
        |  SELECT b, count(*) AS rc,
        |         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc
        |  FROM toks GROUP BY b
        |),
        |totals AS (SELECT CAST(sum(rc) AS BIGINT) AS rtot,
        |                  CAST(sum(tc) AS BIGINT) AS ttot FROM counts),
        |ld AS (
        |  SELECT b,
        |         CAST(round(1e6 * ln(
        |           ((tc * 2 + 1)::DOUBLE / (ttot * 2 + 4096))
        |           * ((rtot * 2 + 4096)::DOUBLE / (rc * 2 + 1)))) AS BIGINT) AS ld
        |  FROM counts, totals
        |),
        |perdoc AS (
        |  SELECT t.doc_id AS doc_id, count(*) AS n_tokens,
        |         CAST(sum(ld.ld) AS BIGINT) AS logw_micro
        |  FROM toks t JOIN ld ON t.b = ld.b
        |  GROUP BY t.doc_id
        |),
        |tot AS (SELECT CAST(sum(logw_micro) AS BIGINT) AS slw,
        |               CAST(sum(n_tokens) AS BIGINT) AS sn FROM perdoc)
        |SELECT doc_id, n_tokens, logw_micro,
        |       (logw_micro::DOUBLE / n_tokens > slw::DOUBLE / sn) AS selected
        |FROM perdoc, tot""".stripMargin
  )
}
