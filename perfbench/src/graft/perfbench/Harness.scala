package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Session, timing, statistics and file helpers shared by the workloads. */
object Harness {

  /** The session the daemon's `Main` builds, at `local[cores]`, with
    * scratch and warehouse directories inside the run's work dir. */
  def startSession(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.query.Tables.configure(spark)
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, secondsSince(t0))
  }

  /** Nearest-rank percentile of `xs` (q in 0..1). */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs independent jobs concurrently, on a pool of four threads. */
  def parallel[T](jobs: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(jobs)(j => scala.concurrent.Future(j())),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  /** Waits for every query; rethrows the first query failure. */
  def awaitAll(qs: StreamingQuery*): Unit = {
    qs.foreach(_.awaitTermination())
    qs.foreach(q => q.exception.foreach(e => throw e))
  }

  /** Bytes of every file under `dir` (0 when absent). */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def dirFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count(p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }

  def delete(p: Path): Unit = graft.util.Fs.deleteRecursively(p)

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  /** Peak use of each JVM memory pool and the heap committed now, in
    * MB: what the resident peak is made of. */
  def memoryRecord(): Map[String, Any] = {
    val mb = 1024.0 * 1024.0
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    Map("pool_peak_mb" -> java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .map(p => p.getName -> p.getPeakUsage.getUsed / mb).toMap,
      "heap_committed_mb" -> mx.getHeapMemoryUsage.getCommitted / mb,
      "non_heap_used_mb" -> mx.getNonHeapMemoryUsage.getUsed / mb)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** JSON text of Scala maps, sequences, numbers and JSON trees. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def parseJson(text: String): JsonNode = mapper.readTree(text)
}
