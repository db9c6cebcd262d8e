package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy).
  *
  * Round-15 resilience: the round-14 suite died pack-wide when ONE
  * suite's SparkContext stop (an async executor fatal under a loaded
  * host) left every later suite calling methods on a stopped context —
  * 0/235 queries certifiable from a single casualty. The accessor now
  * recreates the session when the previous one is stopped, so a killed
  * context costs at most the suite it died in, never the run.
  *
  * That bound is real: `lazy val spark` caches the session the suite
  * first saw, so once a suite's context is stopped, every later test
  * IN THAT SUITE still holds the stopped session and fails with
  * stopped-context errors — the first failure in the suite is the real
  * cause. Later suites get a fresh session. The accessor is a
  * `lazy val` and not a `def` because `import spark.implicits._` (59
  * imports across 34 suites) needs a stable identifier. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  @volatile private var cached: SparkSession = _

  def session: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      if (cached != null) {
        System.err.println(
          "SparkSpec: shared session was STOPPED mid-run — recreating " +
            "(the suite that killed it is the real failure; later " +
            "suites proceed on a fresh session)")
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val s = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      cached = s
    }
    cached
  }
}
