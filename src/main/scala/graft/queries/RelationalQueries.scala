package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.queries.ReferenceQueries.{P0, P1}

/** Relational operators over the TPC-H tables: grouping sets,
  * semi/anti/outer joins, set operations, statistics, pivots, sketches,
  * table audits and privacy transforms. */
object RelationalQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // R19: ROLLUP hierarchy totals (region → nation → grand total);
    // null group markers surfaced as 'ALL' so the sentinel is explicit
    QueryDef("q_rollup", (s, dir) => {
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
    },
      Some("""SELECT COALESCE(r_name, 'ALL') AS region_name,
        |       COALESCE(n_name, 'ALL') AS nation_name,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)),

    // R20: CUBE over two dimensions — all 2^2 grouping sets in one pass
    QueryDef("q_cube", (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n_lines"), col("sum_qty")),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),

    // R21: left-semi join (EXISTS) — customers active in P0
    QueryDef("q_semi_join", (s, dir) => {
      val active = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === P0)
        .select(col("o_custkey").as("c_custkey"))
      Tables.customer(s, dir)
        .join(active, Seq("c_custkey"), "leftsemi")
        .select(col("c_custkey"), col("c_name"))
    },
      Some(s"""SELECT c_custkey, c_name FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders
         |              WHERE o_custkey = c_custkey AND year(o_orderdate) = $P0)""".stripMargin)),

    // R21: left-anti join (NOT EXISTS) — customers with no P0 order
    QueryDef("q_anti_join", (s, dir) => {
      val active = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === P0)
        .select(col("o_custkey").as("c_custkey"))
      Tables.customer(s, dir)
        .join(active, Seq("c_custkey"), "leftanti")
        .select(col("c_custkey"), col("c_name"))
    },
      Some(s"""SELECT c_custkey, c_name FROM customer
         |WHERE NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey AND year(o_orderdate) = $P0)""".stripMargin)),

    // R22: set operations — INTERSECT / EXCEPT with distinct semantics
    QueryDef("q_set_ops", (s, dir) => {
      def custsIn(y: Int) = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === y)
        .select(col("o_custkey"))
      custsIn(P0).intersect(custsIn(P1)).withColumn("tag", lit("both"))
        .unionByName(
          custsIn(P0).except(custsIn(P1)).withColumn("tag", lit("only_p0")))
    },
      Some(s"""SELECT o_custkey, 'both' AS tag FROM (
         |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = $P0
         |  INTERSECT
         |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = $P1)
         |UNION ALL
         |SELECT o_custkey, 'only_p0' AS tag FROM (
         |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = $P0
         |  EXCEPT
         |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = $P1)""".stripMargin)),

    // R23: statistical moments from EXACT integer sums — mean, variance,
    // stddev, correlation, all partition-order independent (the float
    // accumulators of stddev/corr built-ins are not, across engines)
    QueryDef("q_stats_exact", (s, dir) => {
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
    },
      Some("""SELECT n,
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
        |            FROM lineitem))""".stripMargin)),

    // R26: skew-salted equi-join — semantically identical to the plain
    // join (the oracle IS the plain join), but a hot suppkey spreads
    // over 8 reducers instead of one
    QueryDef("q_salted_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("s_suppkey"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"))
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      graft.ops.SkewJoin.saltedEquiJoin(li, broadcast(sup), "s_suppkey",
          numSalts = 8, saltSource = Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("revenue"))
    },
      Some("""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin)),

    // R33: explicit GROUPING SETS — per-segment totals and per-nation
    // totals in ONE pass, a set combination neither rollup nor cube
    // expresses (no (segment, nation) cross cells); Spark plans the
    // same single-scan Expand as cube/rollup
    QueryDef("q_grouping_sets", (s, dir) => {
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
    },
      Some("""SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |       coalesce(n_name, 'ALL') AS nation_name,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())""".stripMargin)),

    // R34: exact interpolated percentiles per group (percentile_cont
    // semantics) — the distribution summary approx_quantile trades
    // away; exact quantity values make the interpolation arithmetic
    // engine-identical
    // Rewritten on RobustStats (was Spark's exact `percentile`, which
    // collects per-group arrays): the SpillablePercentile aggregate —
    // identical interpolated values and plan shape, but the buffer
    // spills sorted runs to disk, so per-group memory is the spill
    // threshold instead of the group size
    QueryDef("q_percentiles", (s, dir) =>
      graft.ops.RobustStats.percentilesByGroup(
          Tables.lineitem(s, dir), "l_returnflag", "l_quantity",
          Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))
        .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"),
          col("n")),
      Some("""SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.25) AS p25,
        |       quantile_cont(l_quantity, 0.5) AS p50,
        |       quantile_cont(l_quantity, 0.75) AS p75,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // E36: fixed-width revenue histogram — integer bucket arithmetic on
    // exact cents (25k-currency-unit buckets), one scan one shuffle
    QueryDef("q_histogram", (s, dir) =>
      Tables.orders(s, dir)
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
        .select(expr("cents div 2500000").as("bucket"), col("cents"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("cents")) / 100.0).as("revenue"))
        .withColumn("bucket_lo", col("bucket") * 25000L),
      Some("""SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 2500000 AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        |       (CAST(round(o_totalprice * 100) AS BIGINT) // 2500000) * 25000 AS bucket_lo
        |FROM orders GROUP BY 1, 4""".stripMargin)),

    // R40: unpivot — wide (one column per measure) back to long
    // (measure, value) rows; the inverse of q_pivot_wide, one scan,
    // no shuffle at all
    QueryDef("q_unpivot", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
          round(col("l_discount") * 100).cast("long").as("discount_pct"),
          round(col("l_tax") * 100).cast("long").as("tax_pct"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("price_cents"), col("discount_pct"), col("tax_pct")),
          "measure", "value"),
      Some("""UNPIVOT (SELECT l_orderkey, l_linenumber,
        |                CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |                CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
        |                CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
        |         FROM lineitem)
        |ON price_cents, discount_pct, tax_pct
        |INTO NAME measure VALUE value""".stripMargin)),

    // E54: schema'd JSON extraction from the semi-structured props
    // column (from_json with an explicit schema — parse once, codegen'd,
    // no per-row schema inference) + grouped rollup of the parsed field
    QueryDef("q_json_extract", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS k_sum,
        |       min(CAST(props->>'k' AS INT)) AS k_min,
        |       max(CAST(props->>'k' AS INT)) AS k_max
        |FROM events GROUP BY event_type""".stripMargin)),

    // E120: referential-integrity audit — orphan counts for every FK
    // edge of the star schema in one report (id-only projections, one
    // shuffle join per edge, no row payload moves). The orders edge is
    // audited against a DELIBERATELY corrupted parent view (keys
    // divisible by 97 removed) so the detector provably fires; the
    // clean edges prove the data, not the absence of the check.
    QueryDef("q_fk_violations", (s, dir) => {
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
    },
      Some("""SELECT 'lineitem->orders_corrupted' AS edge,
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
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin)),

    // E56: snapshot diff — dataset-version observability: one full-outer
    // join classifies every key as added / removed / changed / unchanged
    // between two snapshot views of the same table.
    QueryDef("q_snapshot_diff", (s, dir) => {
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
    },
      Some("""WITH all_o AS (
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
        |GROUP BY 1""".stripMargin)),

    // E57: nested-array analytics via higher-order functions — norm and
    // max-|x| computed INSIDE the row with aggregate()/transform()
    // lambdas (codegen'd, no explode shuffle); round(4) because the two
    // engines accumulate float lists independently.
    QueryDef("q_vector_ops", (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          round(sqrt(aggregate(col("embedding"), lit(0.0d),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("l2_norm"),
          round(array_max(transform(col("embedding"),
            x => abs(x.cast("double")))), 4).as("max_abs")),
      Some("""SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |       round(sqrt(list_aggregate(list_transform(embedding,
        |                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 4) AS l2_norm,
        |       round(list_aggregate(list_transform(embedding,
        |                    x -> abs(CAST(x AS DOUBLE))), 'max'), 4) AS max_abs
        |FROM embeddings""".stripMargin)),

    // E49: batch MERGE upsert — base snapshot (orderkey % 3 != 0) merged
    // with an updates feed (orderkey % 2 == 0, repriced): matched rows
    // take the update, unmatched base rows survive, new keys insert.
    // One full-outer shuffle join; presence-flag (not coalesce) winner.
    QueryDef("q_merge_upsert", (s, dir) => {
      val all = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      val base = all.filter(col("o_orderkey") % 3 =!= 0)
      val updates = all.filter(col("o_orderkey") % 2 === 0)
        .withColumn("price_cents", col("price_cents") + 500L)
        .withColumn("o_orderstatus", lit("U"))
      graft.ops.Merge.upsert(base, updates, Seq("o_orderkey"))
    },
      Some("""WITH all_o AS (
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
        |FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey""".stripMargin)),

    // E50: SCD2 — per-customer order history as validity intervals:
    // valid_from = this order's date, valid_to = the next order's date
    // (open for the current row). One window shuffle on the entity key,
    // (date, orderkey) tiebreak keeps intervals deterministic.
    QueryDef("q_scd2", (s, dir) => {
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
    },
      Some("""SELECT o_custkey, o_orderkey, o_orderstatus,
        |       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |       strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
        |       lead(o_orderdate) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    // E85: null-safe equality join semantics pin — NULL keys match via
    // <=> (regular equi-joins silently drop them; compaction/merge
    // already rely on this). The nullable key is derived
    // deterministically so both engines see identical NULL rows.
    QueryDef("q_nullsafe_join", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          expr("nullif(o_orderpriority, '3-MEDIUM')").as("pr"))
      val dim = o.select(col("pr").as("pr_d")).distinct()
        .withColumn("pr_label", coalesce(col("pr_d"), lit("UNSPECIFIED")))
      o.join(broadcast(dim), col("pr") <=> col("pr_d"))
        .groupBy(col("pr_label")).agg(count(lit(1)).as("n_orders"))
    },
      Some("""WITH o AS (SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS pr
        |           FROM orders),
        |dim AS (SELECT DISTINCT pr AS pr_d FROM o)
        |SELECT coalesce(pr_d, 'UNSPECIFIED') AS pr_label,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM o JOIN dim ON o.pr IS NOT DISTINCT FROM dim.pr_d
        |GROUP BY 1""".stripMargin)),

    // R56: per-nation least-squares revenue trend — the reference's
    // per-country change analysis generalized from a 2-point delta to an
    // OLS slope over all years. Moments (n, Σx, Σy, Σxy, Σx²) are exact
    // integers (x = year offset, y = cents); only the final slope
    // combination is float, per the exact-stats convention — so both
    // engines divide the SAME two integers.
    QueryDef("q_ols_trend", (s, dir) => {
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
    },
      Some("""WITH yearly AS (
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
        |FROM m""".stripMargin)),

    // R57: chi-square independence test (status × priority) — all
    // contingency counts exact integers; the per-cell float terms are
    // summed in EXPLICIT (status, priority) order on both engines
    // (sort_array + aggregate fold here, sum(ORDER BY) there), so the
    // statistic is bit-identical despite float accumulation.
    QueryDef("q_chi_square", (s, dir) => {
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
    },
      Some("""WITH cells AS (SELECT o_orderstatus AS st, o_orderpriority AS pr,
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
        |FROM terms GROUP BY nr, nc, n""".stripMargin)),

    // R51: per-group mode (most frequent value) via max(struct(cnt,
    // value)) — a partial-aggregable shuffle, never a per-group window
    // sort; tiebreak = greatest value, mirrored exactly in the oracle
    QueryDef("q_mode", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(max(struct(col("cnt"), col("lang"))).as("m"))
        .select(col("source"), col("m.lang").as("modal_lang"),
          col("m.cnt").as("modal_cnt")),
      Some("""WITH c AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, lang AS modal_lang, cnt AS modal_cnt
        |FROM (SELECT *, row_number() OVER (PARTITION BY source
        |                 ORDER BY cnt DESC, lang DESC) AS rn FROM c)
        |WHERE rn = 1""".stripMargin)),

    // R27: wide pivot — one column per year, conditional-agg semantics
    QueryDef("q_pivot_wide", (s, dir) =>
      Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")))
        .groupBy(col("o_orderpriority"))
        .pivot("o_year", Seq(1996, 1997, 1998, 1999))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")))
        .select(col("o_orderpriority"),
          (col("1996") / 100.0).as("rev_1996"),
          (col("1997") / 100.0).as("rev_1997"),
          (col("1998") / 100.0).as("rev_1998"),
          (col("1999") / 100.0).as("rev_1999")),
      Some("""SELECT o_orderpriority,
        |       CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS rev_1996,
        |       CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS rev_1997,
        |       CAST(SUM(CASE WHEN year(o_orderdate) = 1998 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS rev_1998,
        |       CAST(SUM(CASE WHEN year(o_orderdate) = 1999 THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS rev_1999
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // R28: the SQL front end over the same engine — registered views +
    // spark.sql, proving API parity with the DataFrame path
    QueryDef("q_sql_agg", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_returnflag,
              |       CAST(count(*) AS BIGINT) AS n_lines,
              |       sum(CAST(l_quantity AS BIGINT)) AS sum_qty
              |FROM lineitem_v GROUP BY l_returnflag""".stripMargin)
    },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // E25: approximate quantiles (GK sketch) — cross-engine sketches
    // differ, so the SKETCH VALUE can't be oracled; the bounded-error
    // VERDICT can (r8): the query computes the estimate AND the exact
    // median (over integer cents — interpolation midpoints are .0/.5,
    // exact in any IEEE engine) and emits |est − exact| ≤ 1% as a
    // boolean the DuckDB oracle reproduces with TRUE + its own exact
    // median. A sketch regression now fails the hash gate, not just a
    // spec. (GK at accuracy 10000 bounds RANK error to n/10000; on this
    // price distribution that is far inside 1% of value.)
    QueryDef("q_approx_quantile", (s, dir) => {
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
    },
      Some("""SELECT count(*) AS n,
        |       quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5)
        |         AS median_cents,
        |       TRUE AS within_bound
        |FROM lineitem""".stripMargin)),

    // E68: order-invariant table checksum — dataset equality in O(1)
    // output: per-row md5 over a canonical projection, the first 8 hex
    // chars as a long, SUMMED (commutative ⇒ partition/order invariant;
    // 2^32 terms × row counts stay far from long overflow). The tool
    // for verifying a migration/replication copy without sorting
    // either side.
    QueryDef("q_table_checksum", (s, dir) =>
      Tables.orders(s, dir)
        .select(conv(substring(md5(concat_ws("|",
            col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long"))), 1, 8), 16, 10)
          .cast("long").as("h"))
        .agg(sum(col("h")).as("checksum"), count(lit(1)).as("n_rows")),
      Some("""SELECT CAST(sum(CAST(('0x' || substr(
        |         md5(o_orderkey || '|' || o_orderstatus || '|'
        |             || CAST(round(o_totalprice * 100) AS BIGINT)), 1, 8))
        |         AS BIGINT)) AS BIGINT) AS checksum,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM orders""".stripMargin)),

    // R29: FULL OUTER join with unmatched rows on both sides
    QueryDef("q_outer_join", (s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_custkey") < 500).select(col("c_custkey"), col("c_name"))
      val o = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === P0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    },
      Some(s"""SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_name,
         |       COALESCE(n_orders, 0) AS n_orders
         |FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 500) c
         |FULL JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
         |           FROM orders WHERE year(o_orderdate) = $P0
         |           GROUP BY o_custkey) o
         |ON c_custkey = o_custkey""".stripMargin)),

    // E115: k-anonymity audit — privacy pre-flight before a table
    // leaves the curated zone: every quasi-identifier combination
    // (nation × segment × balance band) with its population, k-anonymous
    // verdict, and re-identification risk 1/n. One scan + one agg; the
    // risk column is a single exact division.
    QueryDef("q_k_anonymity", (s, dir) => {
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
    },
      Some("""SELECT n_name, c_mktsegment,
        |       CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
        |       CAST(count(*) AS BIGINT) AS n,
        |       (count(*) >= 10) AS k_anonymous,
        |       CAST(1000000 // count(*) AS BIGINT) AS reident_risk_ppm
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2, 3""".stripMargin)),

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
    QueryDef("q_profile", (s, dir) => {
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
    },
      Some(Seq("l_quantity", "l_discount", "l_returnflag").map { c =>
        s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_str,
           |       CAST(max($c) AS VARCHAR) AS max_str,
           |       '$c' AS column_name
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n"))),

    // E16: sketch cardinality (HyperLogLog++) — approximate distincts
    // for pipeline telemetry; cross-engine sketches differ, so the
    // ESTIMATE can't be oracled, but the bounded-error VERDICT can
    // (r8): the query computes the HLL estimate AND the exact distinct
    // and emits |est − exact| ≤ 5% (2.5σ at rsd = 0.02; HLL++ is
    // deterministic for fixed data — hash-based, partition-order
    // independent) as a boolean the DuckDB oracle reproduces with TRUE
    // + its own exact distinct. A sketch regression now fails the hash
    // gate, not just the TextAnalysisSpec error check.
    QueryDef("q_approx_distinct", (s, dir) =>
      Tables.orders(s, dir)
        .agg(
          approx_count_distinct(col("o_custkey"), rsd = 0.02).as("est"),
          countDistinct(col("o_custkey")).as("exact_customers"),
          count(lit(1)).as("n_orders"))
        .select(col("n_orders"), col("exact_customers"),
          (abs(col("est") - col("exact_customers"))
            <= col("exact_customers") * 0.05).as("within_bound")),
      // bounded-error sketch verdicts (r8): the oracle computes the EXACT
      // statistic and asserts the query's within-bound verdict is TRUE —
      // the sketch value itself is engine-specific and stays un-oracled
      Some("""SELECT count(*) AS n_orders,
        |       count(DISTINCT o_custkey) AS exact_customers,
        |       TRUE AS within_bound
        |FROM orders""".stripMargin)),

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
    QueryDef("q_mad_outliers", (s, dir) =>
      graft.ops.RobustStats.madOutliersByGroup(
          Tables.lineitem(s, dir)
            .select(col("l_returnflag").as("flag"),
              round(col("l_extendedprice") * 100).cast("long").as("pc")),
          "flag", "pc")
        .select(col("flag"), col("n"), col("n_outliers"),
          col("med").as("med_cents"), col("mad").as("mad_cents")),
      Some("""WITH pc AS (
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
        |GROUP BY dev.flag""".stripMargin)),

    // E99: data-contract quarantine — declarative expectation rules
    // evaluated in ONE scan (conditional partial aggs, no per-rule
    // pass): per rule the violation count and rate, plus the fully-clean
    // row count; the batch gate a training pipeline puts in front of
    // ingestion. The same predicates, applied as filters, split
    // clean/quarantine row sets without re-stating the rules.
    QueryDef("q_dq_quarantine", (s, dir) => {
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
    },
      Some("""WITH agg AS (SELECT
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
        |      FROM agg)""".stripMargin)),

    // E105: winsorization — clip each customer's order prices at the
    // GLOBAL p05/p95 before summing: the heavy-tail-taming step before
    // mean-based features. The interpolated percentiles are snapped to
    // INTEGER cents inside the true bounds (⌈round(p05,6)⌉, ⌊round(p95,
    // 6)⌋) so the whole clip-then-sum stays in long arithmetic —
    // partition-order independent, no float fold anywhere; round(6)
    // first absorbs cross-engine lerp ulps per the repo's float rule.
    QueryDef("q_winsorize", (s, dir) => {
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
    },
      Some("""WITH o AS (
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
        |GROUP BY o_custkey""".stripMargin)),

    // E106: per-group min-max feature scaling — (x − min)/(max − min)
    // to [0, 1] within each return-flag segment; grouped exact extrema
    // broadcast back, the normalization step before distance-based ML.
    // Output capped to a deterministic id slice to keep the dump small.
    QueryDef("q_minmax_scale", (s, dir) => {
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
    },
      Some("""WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem),
        |ext AS (SELECT l_returnflag AS rf, min(pc) AS mn, max(pc) AS mx
        |        FROM li GROUP BY l_returnflag)
        |SELECT l_orderkey, l_linenumber, l_returnflag,
        |       CAST(pc AS DOUBLE) / 100.0 AS price,
        |       round(CAST(pc - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE), 6) AS price_scaled
        |FROM li JOIN ext ON l_returnflag = rf
        |WHERE l_orderkey < 1000""".stripMargin)),

    // E107: salted-hash pseudonymization — stable, salt-keyed md5
    // pseudonyms for customer ids plus coarsened order dates: the
    // irreversible-but-joinable anonymization pass (same key ⇒ same
    // pseudonym, so downstream joins/aggregations still work); md5 is
    // engine-portable, unlike xxhash64 which only Spark exposes.
    QueryDef("q_pseudonymize", (s, dir) =>
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
        .filter(col("n_orders") >= 2),
      Some("""SELECT substr(md5('graft-salt-v1:' || CAST(o_custkey AS VARCHAR)), 1, 16)
        |         AS cust_pseudo,
        |       strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |         AS revenue
        |FROM orders
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin)),

    // E101: leave-one-out target encoding — each order's customer-level
    // mean price EXCLUDING the order itself ((Σ−x)/(n−1)): the standard
    // leakage-free categorical encoding for feature pipelines. One
    // grouped exact-cents agg broadcast-joined back — no window, no
    // second scan; the subtraction keeps everything integer until the
    // final division (bit-identical across engines).
    QueryDef("q_loo_encoding", (s, dir) => {
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
    },
      Some("""WITH o AS (
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
        |WHERE n > 1""".stripMargin))
  )
}
