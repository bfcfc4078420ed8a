package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact order statistics at scale — percentiles and median absolute
  * deviation WITHOUT an unspillable per-group value collection.
  *
  * Spark's exact `percentile` aggregate materializes every group's
  * values into ONE aggregation buffer — a 33M-row group at sf10 is a
  * multi-GB object array on a single reducer, and it does not spill.
  * [[graft.functions.SpillablePercentile]] keeps the built-in's plan
  * shape (one shuffle into a hash aggregate, same interpolation
  * arithmetic — oracle-hash-proven against DuckDB `quantile_cont`) but
  * its buffer spills sorted runs to executor-local disk past a bounded
  * in-memory threshold, answering order statistics by streaming k-way
  * merge — per-group memory is the spill threshold, not the group size.
  *
  * History: the r5 form here was sort-window selection (row_number over
  * a partitioned sort + post-filter) — equally exact and spill-safe via
  * WindowExec's ExternalSorter, but ~2× the built-in's cost at sf0.1
  * (window row machinery + a second aggregation). The spillable
  * aggregate removes that tax. A histogram variant (count per distinct
  * value, cumsum) measured 3× slower still on near-unique values.
  */
object RobustStats {

  /** Per-group exact interpolated percentiles of a numeric column.
    * Returns one row per group: (groupCol, n, <name> per requested p).
    */
  def percentilesByGroup(
      df: DataFrame, groupCol: String, valCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    // count(__v) skips nulls exactly as the percentile buffer does, so
    // n == the population each percentile interpolates over
    val agged = df.select(col(groupCol), col(valCol).cast("double").as("__v"))
      .groupBy(col(groupCol))
      .agg(
        graft.functions.SpillablePercentile.agg(col("__v"), ps.map(_._2)).as("__ps"),
        count(col("__v")).as("n"))
    val outCols: Seq[Column] = Seq(col(groupCol), col("n")) ++
      ps.zipWithIndex.map { case ((name, _), i) =>
        element_at(col("__ps"), i + 1).as(name)
      }
    agged.filter(col("n") > 0).select(outCols: _*)
  }

  /** Per-group median + MAD + 3·MAD outlier counts, collection-free:
    * median by sort-selection, deviations joined against the broadcast
    * medians, MAD by a second sort-selection over the deviations, and
    * the outlier count from one more pass over the (staged)
    * deviation frame — never a value buffer anywhere.
    */
  def madOutliersByGroup(
      df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    // staged: the deviation join and the final join read the medians
    val med = Staging.stage(percentilesByGroup(df, groupCol, valCol, Seq(("med", 0.5)))
      .select(col(groupCol), col("n"), col("med")))
    // the deviation frame feeds the MAD selection (twice: count + sort)
    // and the outlier count — staged so the corpus scan + broadcast
    // join run once, and downstream passes read stored blocks
    val devs = Staging.stage(df
      .join(broadcast(med.select(col(groupCol), col("med"))), groupCol)
      .select(col(groupCol),
        abs(col(valCol).cast("double") - col("med")).as("__d")))
    // staged too: the outlier count and the final join both read it,
    // and AQE does not reuse an exchange whose input is a staged scan
    val mad = Staging.stage(percentilesByGroup(devs, groupCol, "__d", Seq(("mad", 0.5)))
      .select(col(groupCol), col("mad")))
    val outliers = devs.join(broadcast(mad), groupCol)
      .groupBy(col(groupCol))
      .agg(sum(when(col("__d") > lit(3.0) * col("mad"), 1L).otherwise(0L))
        .as("n_outliers"))
    med.join(mad, groupCol).join(outliers, groupCol)
      .select(col(groupCol), col("n"), col("n_outliers"),
        col("med"), col("mad"))
  }
}
