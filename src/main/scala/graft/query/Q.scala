package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query of the engine's surface: a Spark plan builder plus
  * (when SQL-expressible) the equivalent ANSI SQL the DuckDB oracle runs
  * over the same parquet tables. Column names must match exactly between
  * the two — the driver's compare sorts columns by name before hashing.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, sql: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(sql))
}
