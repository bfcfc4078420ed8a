package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over plain edge DataFrames — the
  * relational formulation (joins + partial aggregates) rather than a
  * vertex-program runtime: every step is a hash shuffle Catalyst can
  * plan, AQE can rebalance, and the oracle can recompute.
  * PageRank (iterative mass flow) lives in SparkEntry.q_pagerank;
  * triangle counting (the local-clustering primitive) lives here.
  */
object Graph {

  /** Exact triangle count via degree orientation (the compact-forward
    * scheme, Latapy 2008 / Suri-Vassilvitskii 2011 — public
    * algorithms): point every undirected edge at its higher-(degree,
    * id) endpoint; then each triangle appears as EXACTLY ONE oriented
    * wedge u→v, u→w (v ranked below w) closed by the oriented edge
    * v→w. Wedge volume is quadratic in ORIENTED out-degree only, which
    * orientation bounds by O(√m) — the hub that detonates a naive
    * neighbor-join (deg² wedges) generates almost no wedges because
    * everything points AT it. Three hash joins + one count, no windows,
    * nothing driver-side.
    *
    * `edges`: columns (u, v), one row per undirected edge, u ≠ v;
    * duplicates/direction are normalized here.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val canon = edges
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val sym = canon.union(canon.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("n")).agg(count(lit(1)).as("d"))
    // orient src → dst where (deg, id) of dst is larger; carry dst's
    // degree so wedge generation can order endpoints without re-joining
    // staged: both wedge sides and the closer read it
    val oriented = Staging.stage(sym
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u").as("src"), col("v").as("dst"), col("dv").as("ddeg")))
    val e1 = oriented.select(col("src"), col("dst").as("x"), col("ddeg").as("dx"))
    val e2 = oriented.select(col("src"), col("dst").as("y"), col("ddeg").as("dy"))
    e1.join(e2, Seq("src"))
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .join(oriented.select(col("src").as("x"), col("dst").as("y")),
        Seq("x", "y"), "leftsemi")
      .agg(count(lit(1)).as("n_triangles"))
  }
}
