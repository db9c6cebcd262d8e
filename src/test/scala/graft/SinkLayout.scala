package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.Assertions._

import graft.sink.ClickHouseDdl

/** The sink layout contract, checked file by file: every parquet file
  * of a table sits under `height_bucket=b`, where b = heightCol −
  * (heightCol mod step) for all of its rows, and its rows are in the
  * table's ORDER BY order (Spark's ascending order: nulls first, strings
  * by UTF-8 bytes). Bloom filters are not checked: on fixture-sized,
  * fully dictionary-encoded chunks parquet writes none. */
object SinkLayout {

  /** The contract for each named output table under `outDir`, with its
    * height column and ORDER BY key from [[ClickHouseDdl.layouts]]. */
  def assertTables(
      spark: SparkSession, outDir: String, tables: Seq[String],
      step: Long = 1000L): Unit =
    tables.foreach { t =>
      val layout = ClickHouseDdl.layouts(t)
      assertFiles(spark, s"$outDir/$t", layout.heightCol, layout.orderBy, step)
    }

  /** The contract for one table directory. */
  def assertFiles(
      spark: SparkSession, path: String, heightCol: String,
      orderKey: Seq[String], step: Long): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def parquet(dir: Path) =
      fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(parquet(root).isEmpty, s"$path: parquet files outside a height bucket")
    val files = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("height_bucket="))
      .flatMap(d => parquet(d).map(d.getName.stripPrefix("height_bucket=").toLong -> _))
    assert(files.nonEmpty, s"$path holds no bucketed parquet files")
    val cols = (heightCol +: orderKey).distinct
    for ((bucket, file) <- files) {
      // a single small file reads as one partition, in file order
      val rows = spark.read.parquet(file.toString)
        .select(cols.map(col): _*).collect()
      for (r <- rows) {
        val h = r.getAs[Long](heightCol)
        assert(h - h % step === bucket, s"$file: $heightCol $h outside its bucket")
      }
      val keys = rows.map(r => orderKey.map(r.getAs[Any]))
      for (i <- 1 until keys.length)
        assert(compareKeys(keys(i - 1), keys(i)) <= 0,
          s"$file: row $i ${keys(i - 1).mkString(",")} sorts after row " +
            s"${i + 1} ${keys(i).mkString(",")} on ${orderKey.mkString(", ")}")
    }
  }

  private def compareKeys(a: Seq[Any], b: Seq[Any]): Int =
    a.zip(b).iterator.map { case (x, y) => compareValues(x, y) }
      .find(_ != 0).getOrElse(0)

  private def compareValues(x: Any, y: Any): Int = (x, y) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (s: String, t: String) =>
      UTF8String.fromString(s).compareTo(UTF8String.fromString(t))
    case (c: Comparable[Any] @unchecked, _) => c.compareTo(y)
  }
}
