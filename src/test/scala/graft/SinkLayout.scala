package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.Assertions._

import graft.sink.ClickHouseDdl

/** The sink layout contract, checked file by file: every parquet file
  * of a table sits under `height_bucket=b`, where b = heightCol −
  * (heightCol mod step) for all of its rows, and its rows are in the
  * table's ORDER BY order (Spark's ascending order: nulls first, strings
  * by UTF-8 bytes). [[assertBlooms]] checks the bloom-filter footers
  * separately, for the columns a caller names: parquet writes a filter
  * only for a column chunk with a page that is not dictionary-encoded,
  * so a fixture column whose values repeat gets none (10 rows with 6
  * distinct values did not), while an all-distinct one falls back to
  * plain encoding and gets one even at 5 rows. */
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
    val files = bucketFiles(spark, path)
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

  /** Every parquet file of the table directory has a bloom filter on
    * each of `cols`, in every row group. */
  def assertBlooms(spark: SparkSession, path: String, cols: Seq[String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    for ((_, file) <- bucketFiles(spark, path)) {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      val chunks = try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      finally reader.close()
      for (c <- cols) {
        val offsets = chunks.filter(_.getPath.toDotString == c).map(_.getBloomFilterOffset)
        assert(offsets.nonEmpty && offsets.forall(_ >= 0),
          s"$file: no bloom filter on $c (offsets ${offsets.mkString(",")})")
      }
    }
  }

  /** (bucket, file) for each parquet file under `path`; no file may sit
    * outside a `height_bucket=` directory. */
  private def bucketFiles(spark: SparkSession, path: String): Seq[(Long, Path)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def parquet(dir: Path) =
      fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(parquet(root).isEmpty, s"$path: parquet files outside a height bucket")
    val files = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("height_bucket="))
      .flatMap(d => parquet(d).map(d.getName.stripPrefix("height_bucket=").toLong -> _))
    assert(files.nonEmpty, s"$path holds no bucketed parquet files")
    files.toSeq
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
