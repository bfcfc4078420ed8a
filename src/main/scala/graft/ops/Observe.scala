package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Zero-extra-scan data-quality monitoring.
  *
  * q_profile ([[graft.queries.RelationalQueries]]) is the offline profiler (its own
  * scan); this is the ONLINE variant: `observe` piggybacks the metric
  * aggregates onto whatever job the caller runs next, so the same tasks
  * that produce the query result also emit row counts / null counts /
  * ranges. At 100 TB that is the difference between monitoring for free
  * and paying a second full pass. Accumulator-backed, so metrics are
  * exact regardless of partitioning (Spark dedups retried tasks).
  */
object Observe {

  /** Attach rows/nulls/min/max metrics for `cols` to `df`. Metrics
    * cover the rows flowing through THIS point of the plan — attach
    * before filters to monitor raw input, after to monitor survivors.
    * The returned [[Observation]] yields the metric row after the
    * caller's first action on the returned frame.
    */
  def qualityMetrics(df: DataFrame, cols: Seq[String]): (DataFrame, Observation) = {
    require(cols.nonEmpty, "need at least one column to monitor")
    val obs = Observation()
    val aggs = count(lit(1)).as("rows") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"))
    }
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }
}
