package graft

import org.apache.spark.sql.SparkSession

/** Prints the deployment DDL for the eight engine output tables —
  * pipe it through `clickhouse client --multiquery` before loading the
  * parquet buckets (a fresh server has no `graft.*` tables; the
  * INSERTs would otherwise all fail — ADVICE round 12).
  *
  * Statements are database-qualified and `;`-terminated so the output
  * is directly executable; the schemas come from the live projection
  * functions via [[graft.sink.ClickHouseDdl.engineSchemas]], so the
  * script can never drift from the sink. */
object ChDdlMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      println("CREATE DATABASE IF NOT EXISTS graft;")
      graft.sink.ClickHouseDdl.engineSchemas(spark).foreach { case (n, s) =>
        // layouts are keyed by the BARE table name; qualify only the
        // rendered statement
        val ddl = graft.sink.ClickHouseDdl.createTable(n, s)
          .replaceFirst("^CREATE TABLE ", "CREATE TABLE graft.")
        println(ddl + ";")
        println()
      }
    } finally spark.stop()
  }
}
