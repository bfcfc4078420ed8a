package graft
package queries

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Graph analytics over the part co-purchase graph, and the 2-D skyline. */
object GraphQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // E75: market-basket co-occurrence — part pairs bought in the same
    // order, ranked by support. The pair join is keyed by l_orderkey
    // (self-join within order groups): per-order quadratic is bounded
    // by basket size, the shuffle is order-keyed — never a global
    // cross join. Deterministic top-20 with full tiebreaks.
    QueryDef("q_copurchase", (s, dir) => {
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
    },
      Some("""WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a ASC, part_b ASC
        |LIMIT 20""".stripMargin)),

    // E80: PageRank over the part co-purchase graph — the iterative
    // graph computation pattern (rank mass flows along edges, fixed
    // damping, 3 unrolled iterations). All arithmetic is exact 64-bit
    // integer micro-units with explicit integer division (`div` /
    // DuckDB `//`), so the cross-engine hash match is exact despite
    // double-free iteration — float rank vectors would drift with
    // Spark's aggregation order. Each iteration is one join + one
    // partial-aggregated shuffle; on a cluster, `edges` would be
    // co-partitioned by src across iterations.
    QueryDef("q_pagerank", (s, dir) => {
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
    },
      Some("""WITH edges AS (
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
        |ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin)),

    // E83: exact triangle count over the 1998 co-purchase graph —
    // degree-oriented wedge join (compact-forward): wedge volume is
    // quadratic in oriented out-degree only, so hubs don't detonate it;
    // the oracle recounts with the canonical u<v<w 3-way join
    QueryDef("q_triangles", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.as("a"); val b = li.as("b")
      val edges = a.join(b, col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
      graft.ops.Graph.triangleCount(edges)
    },
      Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |            WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |              AND l_shipdate < TIMESTAMP '1999-01-01'),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        |          JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin)),

    // E84: 2-D Pareto frontier (cheapest-and-smallest parts) — binned
    // two-level prefix minima, no global-order window; the oracle runs
    // the quadratic NOT EXISTS definition
    QueryDef("q_skyline", (s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"),
        col("p_size"))
      graft.ops.Skyline.pareto2d(p, "price_cents", "p_size", binWidth = 1000L)
        .select(col("p_partkey"), col("price_cents"), col("p_size"))
    },
      Some("""WITH p AS (SELECT p_partkey,
        |                  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |                  p_size
        |           FROM part)
        |SELECT p_partkey, price_cents, p_size FROM p s
        |WHERE NOT EXISTS (SELECT 1 FROM p q
        |  WHERE q.price_cents <= s.price_cents AND q.p_size <= s.p_size
        |    AND (q.price_cents < s.price_cents OR q.p_size < s.p_size))""".stripMargin)),

    // E92: seed-set k-hop expansion — distinct parts reachable in ≤ 2
    // hops from each seed part over the co-purchase graph. The wedge
    // join fans out by mid-node degree, so the frontier is kept
    // ID-only and the seed set bounds the left side (the unbounded
    // all-pairs variant is q_triangles' compact-forward territory);
    // this is the "expand a contamination/dup seed list" pipeline op.
    QueryDef("q_khop", (s, dir) => {
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
    },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
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
        |FROM direct JOIN reach ON direct.src = reach.src""".stripMargin))
  )
}
