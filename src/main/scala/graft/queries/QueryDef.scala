package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One row of the query surface, declared once: its name, the builder
  * that returns its result frame for an sf table directory, and the
  * DuckDB SQL that must return the same rows over the same tables.
  * `oracle` is `None` only where the row is not SQL-expressible
  * (SurfaceSpec pins that list).
  */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
    oracle: Option[String])
