package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._
import graft.queries.ReferenceQueries.changeDf

/** Driver contract — one [[graft.queries.QueryDef]] per SURVEY.md §2
  * row: its build, plus a duckdb oracle for every SQL-expressible one.
  * The runners read two views of the declarations, `queries` and
  * `oracleSql`.
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
  /** Flagship: the reference's change analysis on sf 0.001. */
  def entry(spark: SparkSession): DataFrame =
    changeDf(spark, "/root/testdata/sf0.001")

  /** Every query, family by family. Each family file declares a query's
    * build next to its oracle SQL, with the helpers only it uses. */
  lazy val defs: Seq[QueryDef] = {
    val all = Seq(ReferenceQueries.defs, TpchQueries.defs, RelationalQueries.defs,
      WindowQueries.defs, EventQueries.defs, GraphQueries.defs, NearDupQueries.defs,
      OverlapQueries.defs, AnnQueries.defs, RetrievalQueries.defs, TextQueries.defs,
      CurationQueries.defs, MixingQueries.defs).flatten
    val twice = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty, s"queries declared more than once: ${twice.mkString(", ")}")
    all
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.build).toMap

  def oracleSql: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
