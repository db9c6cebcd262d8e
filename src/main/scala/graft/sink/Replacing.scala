package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ReplacingMergeTree semantics over parquet (SURVEY.md §4.2): all 8
  * reference tables use `ENGINE = ReplacingMergeTree` — duplicate rows
  * with the same ORDER BY key collapse asynchronously, giving
  * idempotent at-least-once ingest (README.md:176,218,237,...).
  *
  * Parquet has no storage-level analog, so the engine provides the two
  * halves explicitly:
  *  - write path: [[appendWrite]] — every batch, streamed or backfilled,
  *    appends to block-height bucket directories. A replayed block range
  *    appends its rows again, exactly like a repeated ClickHouse insert;
  *    at 1000-executor scale each bucket is an independent file set, no
  *    global coordination.
  *  - read path: [[dedupView]] — `row_number() OVER (PARTITION BY key
  *    ORDER BY version DESC) = 1`, the standard dedup-on-read view that
  *    collapses those replays ([[merge]] collapses them physically).
  *
  * Write layout doubles as the index machinery (§4.2): rows sorted by
  * the table's ORDER BY key within each bucket file → parquet row-group
  * min/max stats serve range scans (ClickHouse minmax idx); per-column
  * bloom filters serve point lookups (bloom_filter idx).
  */
object Replacing {

  /** Height-bucket column: 1 bucket = `step` consecutive blocks. */
  def heightBucket(heightCol: String, step: Long = 1000L) =
    (col(heightCol) - (col(heightCol) % step)).as("height_bucket")

  /** One task per height bucket, rows in `orderKey` order. The sort
    * leads with `height_bucket`: the partitioned writer needs its input
    * ordered by the partition column, and a sort that does not start
    * with it is replaced by the writer's own bucket-only sort, leaving
    * every file out of key order. */
  private def clustered(df: DataFrame, orderKey: Seq[String]): DataFrame =
    df.repartition(col("height_bucket"))
      .sortWithinPartitions(("height_bucket" +: orderKey).map(col): _*)

  /** The table write: partition dirs by height bucket, rows sorted by
    * `orderKey` within files, bloom filters on `bloomCols`,
    * `SaveMode.Append`. At-least-once — crash-replays can duplicate
    * rows, which is exactly the ReplacingMergeTree insert contract;
    * [[dedupView]] is the collapse. The sink cursor filter upstream
    * keeps duplication to crash windows only. */
  def appendWrite(
      df: DataFrame, path: String, heightCol: String,
      orderKey: Seq[String], bloomCols: Seq[String] = Nil,
      step: Long = 1000L): Unit =
    layoutWrite(df.withColumn("height_bucket", heightBucket(heightCol, step)),
      path, SaveMode.Append, orderKey, bloomCols)

  /** The one parquet writer of the layout, shared by [[appendWrite]]
    * and [[merge]]: `height_bucket` partition dirs, [[clustered]] rows,
    * a bloom filter on each of `bloomCols`. */
  private def layoutWrite(
      bucketed: DataFrame, path: String, mode: SaveMode,
      orderKey: Seq[String], bloomCols: Seq[String]): Unit = {
    val writer = clustered(bucketed, orderKey)
      .write
      .mode(mode)
      .partitionBy("height_bucket")
    bloomCols.foldLeft(writer) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }.parquet(path)
  }

  /** Dedup-on-read view: latest row (by `versionCol` descending, or
    * arbitrary-but-deterministic when absent) per ORDER BY key. */
  def dedupView(
      df: DataFrame, orderKey: Seq[String],
      versionCol: Option[String] = None): DataFrame = {
    val w = Window.partitionBy(orderKey.map(col): _*)
      .orderBy(versionCol.map(col(_).desc)
        .getOrElse(monotonically_increasing_id().asc))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** The background MERGE — the half of ReplacingMergeTree that
    * [[dedupView]] defers: physically collapse duplicate ORDER-BY keys
    * and compact the small files streaming appends accumulate
    * (ClickHouse runs this as its background merge; an open-table
    * format calls it OPTIMIZE). Per height bucket: read, collapse via
    * the same [[dedupView]] policy, rewrite sorted. Buckets are
    * independent file sets, so `buckets` can scope the merge to the
    * recently-appended range — at 100 TB the nightly merge touches the
    * hot tail, never the whole table — and each bucket's rewrite is a
    * dynamic-partition overwrite (crash before commit leaves the old
    * files in place). The rewrite goes through the same writer as
    * [[appendWrite]], so merged buckets keep the table's sort and bloom
    * filters from `layout`.
    *
    * Reads after a merge see exactly what [[dedupView]] showed before
    * it (MergeSpec pins this), so the view stays the read contract and
    * the merge is purely a storage optimization.
    *
    * Spark refuses to overwrite a path it is reading, so the merge
    * writes to `<path>__merge_tmp` and swaps each bucket dir in three
    * FS steps: park the old bucket in `<path>__merge_old`, rename the
    * new one into place, delete the parked one. A crash at any point
    * leaves each bucket's rows either in place or parked, and the next
    * merge first puts back every parked bucket whose target is missing
    * — so every bucket is either fully old or fully new. */
  def merge(
      spark: org.apache.spark.sql.SparkSession, path: String,
      layout: ClickHouseDdl.Layout, versionCol: Option[String] = None,
      buckets: Option[Seq[Long]] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpPath = new Path(s"${path.stripSuffix("/")}__merge_tmp")
    val oldPath = new Path(s"${path.stripSuffix("/")}__merge_old")
    def move(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"merge: cannot rename $from to $to")
    // recover a crashed swap before reading: a parked bucket whose
    // target is gone is the only copy of its rows; one whose target
    // exists was already replaced
    if (fs.exists(oldPath)) {
      fs.listStatus(oldPath).foreach { st =>
        val target = new Path(hPath, st.getPath.getName)
        if (fs.exists(target)) fs.delete(st.getPath, true)
        else move(st.getPath, target)
      }
      fs.delete(oldPath, true)
    }
    val table = spark.read.parquet(path)
    val scoped = buckets match {
      case Some(bs) => table.where(col("height_bucket").isin(bs: _*))
      case None => table
    }
    val collapsed = dedupView(scoped, layout.orderBy, versionCol)
    layoutWrite(collapsed, tmpPath.toString, SaveMode.Overwrite,
      layout.orderBy, layout.bloom)
    val merged = fs.listStatus(tmpPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("height_bucket="))
    fs.mkdirs(oldPath)
    merged.foreach { st =>
      val target = new Path(hPath, st.getPath.getName)
      val parked = new Path(oldPath, st.getPath.getName)
      if (fs.exists(target)) move(target, parked)
      move(st.getPath, target)
      fs.delete(parked, true)
    }
    fs.delete(oldPath, true)
    fs.delete(tmpPath, true)
  }

  /** K1: sink-side retry with exponential backoff
    * (/root/reference/src/click.rs:50-85: 10 tries, 100 ms ×2). */
  def retry[T](
      tries: Int = 10, firstDelayMs: Long = 100L)(f: => T): T = {
    var attempt = 0
    var delay = firstDelayMs
    while (true) {
      try return f
      catch {
        case e: Throwable =>
          attempt += 1
          if (attempt >= tries) throw e
          Thread.sleep(delay)
          delay *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
