package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.Clustering
import graft.ops.{PeriodChange, Preprocess}
import graft.sources.Tables

/** The reference CO2 pipeline's own rows (R2–R18): scan, filter, top-k,
  * grouped aggregation, the period-change analysis and its clustering. */
object ReferenceQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // R2: projection + filter pushed to the parquet scan
    QueryDef("q_pruned_scan", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      Some("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE l_discount > 0.05")),

    // R3: na.drop("any") with explicit null/NaN semantics. The raw sf
    // events table contains zero nulls, so nulls AND NaNs are injected
    // deterministically (same derivation in the oracle) — the drop path
    // is actually exercised, not vacuously satisfied.
    QueryDef("q_dropna_any", (s, dir) => {
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
    },
      Some("""SELECT event_id, event_type, value FROM (
        |  SELECT event_id, ts, user_id,
        |         CASE WHEN user_id % 101 = 0 THEN NULL ELSE event_type END AS event_type,
        |         CASE WHEN event_id % 97 = 0 THEN NULL
        |              WHEN event_id % 89 = 0 THEN 'NaN'::DOUBLE
        |              ELSE value END AS value,
        |         props
        |  FROM events)
        |WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
        |  AND props IS NOT NULL""".stripMargin)),

    // R4+R5: per-entity change between two periods + reduced flag
    QueryDef("q_change_per_entity", (s, dir) => changeDf(s, dir),
      Some(changeSql)),

    // R6: OR-of-equalities filter (reference's countries-of-interest)
    QueryDef("q_filter_or", (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .filter(col("n_name") === "NATION_1" || col("n_name") === "NATION_3" ||
          col("n_name") === "NATION_7")
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
    },
      Some("""SELECT c_custkey, c_name, n_name, c_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name = 'NATION_1' OR n_name = 'NATION_3' OR n_name = 'NATION_7'""".stripMargin)),

    // R7: deterministic top-k, both directions
    QueryDef("q_topk_desc", (s, dir) =>
      PeriodChange.topMovers(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", descending = true, n = 5, tiebreak = "o_orderkey"),
      Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5")),

    QueryDef("q_topk_asc", (s, dir) =>
      PeriodChange.topMovers(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", descending = false, n = 5, tiebreak = "o_orderkey"),
      Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice ASC, o_orderkey LIMIT 5")),

    // R8: filtered count (reference: countries that reduced)
    QueryDef("q_filter_count", (s, dir) =>
      changeDf(s, dir).filter(col("is_reduced"))
        .agg(count(lit(1)).as("n_reduced")),
      Some(s"SELECT CAST(count(*) AS BIGINT) AS n_reduced FROM ($changeSql) WHERE is_reduced")),

    // R9: grouped min/max/sum/count aggregation
    QueryDef("q_agg_minmax", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_lines"),
          (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("revenue"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
        |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // R10: global sums split by flag
    QueryDef("q_sum_by_flag", (s, dir) => PeriodChange.sumByFlag(changeDf(s, dir)),
      Some(s"""SELECT is_reduced, CAST(count(*) AS BIGINT) AS n_entities,
         |       CAST(SUM(CAST(round(change * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_change
         |FROM ($changeSql) GROUP BY is_reduced""".stripMargin)),

    // R11: per-group "min - max" range label (reference's UDF, built-ins
    // here; plain-cast render so the oracle can reproduce it — the
    // reference's format_number style is the same code path, tested via
    // q_kmeans_clusters)
    QueryDef("q_label_agg", (s, dir) =>
      PeriodChange.rangeLabels(
        Tables.customer(s, dir), "c_nationkey", "c_acctbal", formatted = false),
      Some("""SELECT c_nationkey, min(c_acctbal) AS min_v, max(c_acctbal) AS max_v,
        |       CAST(min(c_acctbal) AS VARCHAR) || ' - ' || CAST(max(c_acctbal) AS VARCHAR) AS label
        |FROM customer GROUP BY c_nationkey""".stripMargin)),

    // R12+R13: rename + fact↔dim broadcast joins
    QueryDef("q_join_enrich", (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir).withColumnRenamed("n_name", "nation_name")
      val r = Tables.region(s, dir).withColumnRenamed("r_name", "region_name")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("region_name"), col("nation_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          (sum(round(col("c_acctbal") * 100).cast("long")) / 100.0).as("total_acctbal"))
    },
      Some("""SELECT r_name AS region_name, n_name AS nation_name,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin)),

    // R14: stable row ids — per-entity sequence numbers
    QueryDef("q_row_number", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("seq", row_number().over(w).cast("long"))
        .select(col("o_custkey"), col("o_orderkey"), col("seq"))
    },
      Some("""SELECT o_custkey, o_orderkey,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS seq
        |FROM orders""".stripMargin)),

    // R15: KMeans over [change, is_reduced] (reference's clustering)
    QueryDef("q_kmeans_clusters", (s, dir) => {
      val fitted = Clustering.fitPredict(
        changeDf(s, dir), Seq("change", "is_reduced"), k = 5, seed = 1L)
      Clustering.clusterInfo(fitted.predictions, "change")
    }, None),

    // R15 (portable, r10 — closes the last no-oracle row): the SAME
    // change-analysis clustering on the PORTABLE integer Lloyd.
    // q_kmeans_clusters stays the Spark-ML-parity rows check (its
    // k-means‖ init is not portably replayable); this variant's fit is
    // graft.ops.Lloyd over exact integer features (change CENTS +
    // reduced flag), so every assignment and the per-cluster summary
    // (all exact ints) replay bit-for-bit in DuckDB.
    QueryDef("q_kmeans_portable", (s, dir) => {
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
    },
      // full integer-Lloyd replay of Clustering.portableFitAssign over
      // the change pipeline: md5-rank init, 3 rounds of exact-int argmin
      // (ties → smallest cell via the min(dist·5+cell) encoding) +
      // truncating `//` updates with empty cells carried over
      Some {
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
      }),

    // R17: DISTINCT projection
    QueryDef("q_distinct_rows", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus")).distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // R18: year-over-year change via lag window
    QueryDef("q_yoy_change", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byYear = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("o_year"))
        .agg((sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("revenue"))
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_year"))
      byYear
        .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        .withColumn("yoy_change", round((col("revenue") - col("prev_revenue")) * 100).cast("long") / 100.0)
    },
      Some("""SELECT o_orderpriority, o_year, revenue,
        |       LAG(revenue) OVER (PARTITION BY o_orderpriority ORDER BY o_year) AS prev_revenue,
        |       CAST(round((revenue - LAG(revenue) OVER (PARTITION BY o_orderpriority ORDER BY o_year)) * 100) AS BIGINT) / 100.0 AS yoy_change
        |FROM (SELECT o_orderpriority, year(o_orderdate) AS o_year,
        |             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |      FROM orders GROUP BY o_orderpriority, year(o_orderdate))""".stripMargin))
  )

  // period-change (flagship) parameters: customer revenue 1996 vs 2000
  private[queries] val P0 = 1996
  private[queries] val P1 = 2000

  private[graft] def changeDf(s: SparkSession, dir: String): DataFrame =
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
}
