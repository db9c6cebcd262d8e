package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.KmvSketch
import graft.ext.Kmv

/** The KMV distinct-sketch aggregate behind the d35/d36 corpus audits.
  * Load-bearing properties: the buffer holds the k smallest DISTINCT
  * values only (duplicates collapse inside the buffer — no upstream
  * distinct shuffle needed), merge is a trimmed set union identical to
  * a single-pass build, and the estimator is exact below k and the
  * floored (k−1)·2^60/kth quotient at or above it. */
class KmvSketchSpec extends AnyFunSuite with SparkSpec {

  private def sketchCol(k: Int) = ColumnBridge.column(
    KmvSketch(ColumnBridge.expression(col("h")), k).toAggregateExpression())

  private def run(vals: Seq[Long], k: Int, parts: Int = 7): Seq[Long] = {
    import spark.implicits._
    vals.toDF("h")
      .repartition(parts)
      .agg(sketchCol(k).as("sk"))
      .select(explode(col("sk")))
      .collect().toSeq.map(_.getLong(0))
  }

  test("keeps the k smallest distinct values, ascending, across partitions") {
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(5000)(rnd.nextLong(1L << 60)) ++
      Seq.fill(2000)(12345L) // heavy duplication must not evict smaller keys
    val got = run(vals, k = 64)
    val want = vals.distinct.sorted.take(64)
    assert(got == want)
  }

  test("below k the sketch is the full distinct set (estimate exact)") {
    val vals = Seq(5L, 9L, 5L, 1L, 9L, 7L)
    assert(run(vals, k = 256) == Seq(1L, 5L, 7L, 9L))
  }

  test("duplicates collapse: sketch of 10x-duplicated input is unchanged") {
    val base = (1L to 400L).map(_ * 1000003L)
    val dup = Seq.fill(10)(base).flatten
    assert(run(dup, k = 128) == run(base, k = 128))
  }

  test("nulls are ignored; all-null group yields an empty sketch") {
    import spark.implicits._
    val df = Seq[Option[Long]](None, Some(3L), None, Some(8L))
      .toDF("h")
    val got = df.agg(sketchCol(16).as("sk")).select(size(col("sk")))
      .head().getInt(0)
    assert(got == 2)
    val empty = Seq[Option[Long]](None, None).toDF("h")
      .agg(sketchCol(16).as("sk")).select(size(col("sk"))).head().getInt(0)
    assert(empty == 0)
  }

  test("rejects values outside the 60-bit pmd5 domain") {
    import spark.implicits._
    val ex = intercept[Exception] {
      Seq(1L << 60).toDF("h").agg(sketchCol(4).as("sk")).collect()
    }
    assert(ex.getMessage.contains("60-bit"))
  }

  test("SQL surface: kmv_sketch registered; k must be a positive literal") {
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("g", "h")
      .createOrReplaceTempView("kmv_in")
    val rows = spark.sql(
      "SELECT g, kmv_sketch(h, 8) AS sk FROM kmv_in GROUP BY g ORDER BY g")
      .collect()
    assert(rows(0).getSeq[Long](1) == Seq(10L, 20L))
    assert(rows(1).getSeq[Long](1) == Seq(5L))
    val bad = intercept[Exception] {
      spark.sql("SELECT kmv_sketch(h, 0) FROM kmv_in").collect()
    }
    assert(bad.getMessage.contains("kmv_sketch"))
  }

  test("estimator: exact below k; floored (k-1)*2^60/kth at k; " +
    "estimate within 3 RSE of truth on a uniform corpus") {
    import spark.implicits._
    // deterministic pseudo-uniform 60-bit values via the family hash
    val n = 20000
    val df = (1 to n).map(_.toLong).toDF("x")
      .select(graft.ext.Dedup.pmd5(col("x")).as("h"))
    val k = 256
    val est = df.agg(Kmv.sketch(col("h"), k).as("sk"))
      .select(Kmv.estimate(col("sk"), k).as("est"))
      .head().getLong(0)
    val rse = 1.0 / math.sqrt((k - 2).toDouble)
    assert(math.abs(est - n).toDouble / n < 3 * rse,
      s"est $est vs true $n (3·RSE bound ${3 * rse})")
    // and the closed form: est = floor((k-1)*2^60 / kth)
    val kth = df.agg(Kmv.sketch(col("h"), k).as("sk"))
      .select(element_at(col("sk"), k)).head().getLong(0)
    val want = math.floor(
      (k - 1).toDouble * KmvSketch.HashDomain.toDouble / kth.toDouble).toLong
    assert(est == want)
  }

  test("merge law: union of per-half sketches equals whole-corpus sketch") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vals = Seq.fill(3000)(rnd.nextLong(1L << 60))
    val (a, b) = vals.splitAt(1500)
    val k = 96
    // merged via the d36 array path: k smallest of the union of kept sets
    val skA = run(a, k)
    val skB = run(b, k)
    val merged = (skA ++ skB).distinct.sorted.take(k)
    assert(merged == run(vals, k))
  }
}
