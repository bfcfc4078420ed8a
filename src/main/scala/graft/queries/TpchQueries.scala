package graft
package queries

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** TPC-H analogs (R32–R62) over the sf tables. */
object TpchQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // R32: TPC-H Q1 analog (pricing summary): the classic wide-agg scan.
    // disc_price/charge as exact integer units — cents × (100−d%) and
    // cents × (100−d%) × (100+t%) — so every sum and mean is
    // partition-order independent; averages are exact-int divisions
    // (identical doubles in any engine, no rounding needed)
    QueryDef("q_tpch_q1", (s, dir) => {
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
    },
      Some("""SELECT l_returnflag, l_linestatus,
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
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // R32: TPC-H Q3 analog (shipping priority): selective dim filter,
    // fact-fact join, grouped exact-revenue, deterministic top-10.
    // revenue units are cents × (100 − discount%) — exact longs, so the
    // sum is partition-order independent
    QueryDef("q_tpch_q3", (s, dir) => {
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
    },
      Some("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // R32: TPC-H Q5 analog (local supplier volume): 6-table join with a
    // same-nation constraint, small sides broadcast
    QueryDef("q_tpch_q5", (s, dir) => {
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
    },
      Some("""SELECT n_name,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA' AND year(o_orderdate) = 1997
        |GROUP BY n_name""".stripMargin)),

    // R32: TPC-H Q6 analog (forecast revenue): pure scan-filter-agg,
    // every predicate pushed to the parquet scan
    QueryDef("q_tpch_q6", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(year(col("l_shipdate")) === 1997 &&
          round(col("l_discount") * 100).cast("long").between(5, 7) &&
          col("l_quantity") < 24)
        .agg(
          (sum(round(col("l_extendedprice") * 100).cast("long")
            * round(col("l_discount") * 100).cast("long")) / 10000.0).as("revenue"),
          count(lit(1)).as("n_lines")),
      Some("""SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE year(l_shipdate) = 1997
        |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin)),

    // R35: TPC-H Q14 analog (promo revenue share) — fact⋈dim join with
    // a conditional numerator; share is a double division of two exact
    // unit sums, so it is bit-identical across engines
    QueryDef("q_tpch_q14", (s, dir) => {
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
    },
      Some("""SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_units ELSE 0 END) AS DOUBLE) / 10000.0 AS promo_revenue,
        |       CAST(SUM(rev_units) AS DOUBLE) / 10000.0 AS total_revenue,
        |       100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN rev_units ELSE 0 END)
        |             / SUM(rev_units) AS promo_share_pct
        |FROM (SELECT l_partkey,
        |             CAST(round(l_extendedprice * 100) AS BIGINT)
        |               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_units
        |      FROM lineitem) l
        |JOIN part ON l_partkey = p_partkey""".stripMargin)),

    // R36: TPC-H Q10 analog (returned-item revenue by customer):
    // selective fact filter, two fact joins, broadcast dim, exact-cents
    // grouped revenue, deterministic top-20
    QueryDef("q_tpch_q10", (s, dir) => {
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
    },
      Some("""SELECT c_custkey, c_name, n_name, c_acctbal,
        |       CAST(SUM(rev_units) AS DOUBLE) / 10000.0 AS revenue
        |FROM (SELECT l_orderkey,
        |             CAST(round(l_extendedprice * 100) AS BIGINT)
        |               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_units
        |      FROM lineitem WHERE l_returnflag = 'R') l
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, n_name, c_acctbal
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin)),

    // R37: TPC-H Q18 analog (large-volume customers): a having-filtered
    // fact self-aggregation driving a 3-way join. The quantity sums are
    // integral doubles summed exactly (≤2^53), cast to long for a
    // hash-stable output; the big-side agg happens BEFORE the joins so
    // only qualifying orders (~1%) reach the join graph.
    QueryDef("q_tpch_q18", (s, dir) => {
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
    },
      Some("""WITH huge AS (
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
        |ORDER BY price_cents DESC, o_orderkey ASC LIMIT 100""".stripMargin)),

    // R46: TPC-H Q4 analog (order priority checking) — EXISTS over a
    // correlated fact condition, planned as a LEFT SEMI join on the
    // order key with the lateness predicate as the join residual (the
    // schema has no commit/receipt dates; "late" = shipped > 90 days
    // after the order date)
    QueryDef("q_tpch_q4", (s, dir) => {
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
    },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1""".stripMargin)),

    // R47: TPC-H Q12 analog (shipping-mode priority split) — CASE
    // conditional aggregation over a fact-fact join (l_returnflag
    // stands in for l_shipmode, absent from this schema)
    QueryDef("q_tpch_q12", (s, dir) => {
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
    },
      Some("""SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY 1""".stripMargin)),

    // R48: TPC-H Q17 analog (small-quantity-order revenue) — the
    // correlated per-part average DECORRELATED by hand into a grouped
    // stats join; the 0.2·avg cut is evaluated in exact integers
    // (5·qty·cnt < Σqty ⟺ qty < 0.2·avg) so no float division ever
    // decides a row's membership
    QueryDef("q_tpch_q17", (s, dir) => {
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
    },
      Some("""WITH lip AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#12'),
        |stats AS (
        |  SELECT l_partkey, sum(qty) AS sum_qty, count(*) AS cnt
        |  FROM lip GROUP BY 1)
        |SELECT CAST(sum(cents) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
        |FROM lip JOIN stats USING (l_partkey)
        |WHERE qty * 5 * cnt < sum_qty""".stripMargin)),

    // R49: TPC-H Q19 analog (discounted revenue, OR-of-ANDs) — the
    // classic disjunctive join residual: three brand/size/quantity
    // bands OR'd together over one part join, exact-unit revenue
    QueryDef("q_tpch_q19", (s, dir) => {
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
    },
      Some("""SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
        |         AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 21)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 45
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin)),

    // R50: TPC-H Q22 analog (global-sales-opportunity) — scalar
    // subquery (global positive-balance average, a 1-row broadcast) +
    // NOT EXISTS anti-join, grouped by nation instead of the absent
    // phone country code. "No orders" becomes "no orders since 2000"
    // (every synthetic customer has SOME order — dormancy is the
    // analog that leaves a non-trivial answer set)
    QueryDef("q_tpch_q22", (s, dir) => {
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
    },
      Some("""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
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
        |GROUP BY 1""".stripMargin)),

    // R58: TPC-H Q2 analog (min-cost supplier per part in a region) —
    // the correlated-min + join-back (argmin) pattern: per-(part,
    // supplier) shipped value stands in for ps_supplycost (no partsupp
    // table); within EUROPE, each size-15 part picks its minimum-value
    // supplier via ONE min(struct) partial agg — no window, ties to the
    // smallest suppkey by struct order
    QueryDef("q_tpch_q2", (s, dir) => {
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
    },
      Some("""WITH sup AS (SELECT s_suppkey, s_name, n_name FROM supplier
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
        |                           ORDER BY cost_cents, s_suppkey) = 1""".stripMargin)),

    // R59: TPC-H Q8 analog (national market share): NATION_7 suppliers'
    // share of ASIA-customer order revenue per year — two independent
    // dim chains onto one fact; numerator and denominator exact units,
    // only the share division is float
    QueryDef("q_tpch_q8", (s, dir) => {
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
    },
      Some("""WITH asia_cust AS (SELECT c_custkey FROM customer
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
        |GROUP BY 1""".stripMargin)),

    // R60: TPC-H Q9 analog (product-line profit by nation and order
    // year): part-name filter + supplier-nation dim + order-year join,
    // exact-unit profit summed per (nation, year)
    QueryDef("q_tpch_q9", (s, dir) => {
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
    },
      Some("""SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |                (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |         / 10000.0 AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin)),

    // R61: TPC-H Q11 analog (important stock): per-part shipped value
    // by NATION_3's suppliers, keeping parts above 0.1% of the nation
    // total — the grouped-agg + scalar-subquery-threshold pattern, the
    // 1-row threshold broadcast
    QueryDef("q_tpch_q11", (s, dir) => {
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
    },
      Some("""WITH vals AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |           AS value_cents
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey = 3
        |  GROUP BY 1)
        |SELECT l_partkey, value_cents FROM vals
        |WHERE CAST(value_cents AS DOUBLE) >
        |      (SELECT CAST(sum(value_cents) AS BIGINT) / 1000.0 FROM vals)""".stripMargin)),

    // R62: TPC-H Q13 analog (order-count distribution): customers LEFT
    // joined to their filtered orders so zero-order customers keep a
    // 0-count row, then the count-of-counts histogram
    QueryDef("q_tpch_q13", (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select(col("o_custkey"))
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey")).agg(count(col("o_custkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
    },
      Some("""SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_custkey) AS BIGINT) AS c_count
        |      FROM customer LEFT JOIN
        |           (SELECT o_custkey FROM orders
        |            WHERE o_orderpriority <> '4-NOT SPECIFIED') o
        |           ON c_custkey = o_custkey
        |      GROUP BY 1)
        |GROUP BY 1""".stripMargin)),

    // R52: TPC-H Q15 analog (top supplier by quarterly revenue) — the
    // revenue "view" is a grouped agg reused twice; the global max is a
    // 1-row broadcast joined back by EQUALITY, so ties surface (the
    // spec's HAVING total = max(total)) with no window sort. Revenue in
    // exact 10^-4-dollar units; only the final display division is float.
    QueryDef("q_tpch_q15", (s, dir) => {
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
    },
      Some("""WITH rev AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |             (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, rev_u / 10000.0 AS total_rev
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE rev_u = (SELECT max(rev_u) FROM rev)""".stripMargin)),

    // R53: TPC-H Q16 analog (supplier breadth per part segment) —
    // count-DISTINCT suppliers per (brand, type, size) via the lineitem
    // part↔supplier linkage (no partsupp table in this schema); the
    // spec's complaint-supplier NOT IN becomes a broadcast anti-join
    // (negative balance stands in for the complaint regex)
    QueryDef("q_tpch_q16", (s, dir) => {
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
    },
      Some("""SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin)),

    // R54: TPC-H Q20 analog (suppliers with concentrated shipments) —
    // the nested semi-join chain: parts by name prefix → per-(part,
    // supplier) shipment profile → suppliers whose 1998 volume exceeds
    // half their all-time volume for such a part (the 0.5·availqty cut
    // re-expressed self-relatively — no partsupp table — in exact
    // integers: 2·q98 > qall) → supplier directory semi-join
    QueryDef("q_tpch_q20", (s, dir) => {
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
    },
      Some("""WITH prof AS (
        |  SELECT l_partkey, l_suppkey,
        |         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
        |                   AND l_shipdate < TIMESTAMP '1999-01-01'
        |                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q98,
        |         SUM(CAST(l_quantity AS BIGINT)) AS qall
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM prof WHERE q98 * 2 > qall)""".stripMargin)),

    // R55: TPC-H Q21 analog (suppliers who kept orders waiting) — the
    // EXISTS + NOT EXISTS pair over the SAME fact: supplier s shipped
    // >60 days after the order date in a finished multi-supplier order
    // where no OTHER supplier was late. Both the late frame and the
    // participant frame are (order, supplier)-distinct before the
    // semi/anti joins, so order width never multiplies the probe.
    QueryDef("q_tpch_q21", (s, dir) => {
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
    },
      Some("""WITH late AS (
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
        |GROUP BY 1 ORDER BY numwait DESC, s_name ASC LIMIT 20""".stripMargin)),

    // R38: TPC-H Q7 analog (volume shipping between two nations): the
    // symmetric nation-pair filter pushes into BOTH dim joins
    // (broadcast), so the fact table is filtered by two semi-selective
    // dims before the (supp_nation, cust_nation, year) rollup.
    QueryDef("q_tpch_q7", (s, dir) => {
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
    },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
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
        |GROUP BY 1, 2, 3""".stripMargin))
  )
}
