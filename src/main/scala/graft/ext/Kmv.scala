package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Caches.Registered

/** KMV (k-minimum-values) distinct sketches over the portable 60-bit
  * shingle-hash substrate — the theta-sketch workflow a corpus audit
  * runs at 100 TB: one bounded O(k) aggregate per source replaces a
  * full distinct-count shuffle, and because sketches are MERGEABLE,
  * set algebra between sources (union / overlap / A-not-B) happens on
  * k-row arrays, never by re-joining the data.
  *
  * Everything is exactly replayable in DuckDB (the [[Dedup.pmd5]]
  * portability contract + `ORDER BY h LIMIT k`), so the ESTIMATES
  * themselves are hash-oracled, not just spot-checked — see
  * [[DedupQueries]] d35/d36.
  */
object Kmv {

  /** Default sketch size: ~6% relative standard error
    * (RSE ≈ 1/√(k−2)); 256 longs per group at every phase. */
  val DefaultK = 256

  /** The estimator's domain constant — [[graft.expr.KmvSketch.HashDomain]]
    * as a double (2^60, exactly representable). */
  private val DomainD: Double = graft.expr.KmvSketch.HashDomain.toDouble

  /** KMV sketch aggregate COLUMN over a 60-bit hash column: array of
    * the k smallest distinct hashes, ascending. */
  def sketch(hash: Column, k: Int = DefaultK): Column = {
    require(k >= 2, "kmv needs k >= 2 (the estimator divides by k-1)")
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expr.KmvSketch(ColumnBridge.expression(hash), k)
        .toAggregateExpression())
  }

  /** Distinct estimate from a sketch array: exact (= size) while the
    * sketch is not full; `floor((k−1)·2^60 / kth_min)` once it is.
    * Pure IEEE-754 double arithmetic — `(k−1)·2^60` is exact (≤ 8
    * significand bits on a power of two) and division rounds
    * nearest-even identically on the JVM and DuckDB, so the floored
    * quotient is engine-portable bit for bit. */
  def estimate(sk: Column, k: Int = DefaultK): Column =
    when(size(sk) < k, size(sk).cast("long"))
      .otherwise(
        floor(lit((k - 1).toDouble * DomainD) /
          element_at(sk, k).cast("double")).cast("long"))

  /** Per-document distinct w=3 shingle hashes exploded with their
    * source — the corpus-identity substrate both audits run on. */
  private def sourceShingles(docs: DataFrame): DataFrame = {
    val th = docs.select(
      col("source"), Dedup.tokenHashes(col("text")).as("th"))
    th.select(
      col("source"),
      explode(Dedup.shingleHashArray(col("th"))).as("h"))
  }

  /** d35 — KMV distinct audit per source: the sketch estimate next to
    * the exact distinct shingle count and the error in basis points.
    * The exact count is the AUDIT reference (one distinct shuffle at
    * test scale); the production path is the O(k) sketch alone. */
  def distinctAudit(docs: DataFrame, k: Int = DefaultK): DataFrame = {
    val sh = sourceShingles(docs)
    sh.groupBy(col("source"))
      .agg(
        sketch(col("h"), k).as("sk"),
        countDistinct(col("h")).as("exact_distinct"))
      .select(
        col("source"),
        size(col("sk")).cast("long").as("n_kept"),
        when(size(col("sk")) < k, lit(0L))
          .otherwise(element_at(col("sk"), k)).as("kth_min"),
        estimate(col("sk"), k).as("est_distinct"),
        col("exact_distinct"))
      .withColumn("err_e4",
        expr("abs(est_distinct - exact_distinct) * 10000 div exact_distinct"))
  }

  /** d37 — ONE-PASS table profile (the ANALYZE-style ops tool a 100 TB
    * table is sized by): per column, row count, null count, exact
    * distinct count and the KMV estimate with its error in basis
    * points. All columns' statistics ride a SINGLE aggregation over
    * ONE corpus scan (4·|cols| aggregate expressions, the sketches
    * O(k) each); the per-column output rows are projections of the
    * persisted 1-row aggregate. The exact countDistinct is the audit
    * reference, as in d35 — a production profiler at scale keeps only
    * the sketch column.
    *
    * Column values key through [[Dedup.pmd5]] of their canonical
    * string cast, so only portably-rendered types belong here (ints,
    * longs, strings — NOT doubles/decimals/timestamps, whose string
    * forms differ across engines). */
  def tableProfile(df: DataFrame, cols: Seq[String], k: Int = DefaultK)
      : DataFrame = {
    require(cols.nonEmpty, "tableProfile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nn_$c"),
        countDistinct(col(c)).as(s"_nd_$c"),
        sketch(Dedup.pmd5(col(c)), k).as(s"_sk_$c"))
    }
    val one = df
      .agg(count(lit(1)).as("_n"), aggs: _*)
      .persistRegistered()
    cols.map { c =>
      one.select(
        lit(c).as("column"),
        col("_n").as("n_rows"),
        col(s"_nn_$c").as("n_nulls"),
        col(s"_nd_$c").as("n_distinct"),
        estimate(col(s"_sk_$c"), k).as("kmv_est"))
        .withColumn("err_e4",
          expr("abs(kmv_est - n_distinct) * 10000 div n_distinct"))
    }.reduce(_ unionByName _)
  }

  /** d36 — pairwise source overlap from MERGED sketches: union sketch
    * = k smallest of the two kept sets (pure array math — the data is
    * never re-touched), intersection by inclusion-exclusion, Jaccard
    * in basis points. This is the sketch property HLL doesn't have and
    * the reason KMV is the corpus-overlap tool: S sources compare in
    * S² array operations on k-row state, not S² corpus joins. */
  def sourceOverlap(docs: DataFrame, k: Int = DefaultK): DataFrame = {
    // persisted: both pair-join branches read this |sources|-row frame —
    // without the persist the corpus pays the shingle pass twice
    val sk = sourceShingles(docs)
      .groupBy(col("source"))
      .agg(sketch(col("h"), k).as("sk"))
      .select(col("source"), col("sk"), estimate(col("sk"), k).as("est"))
      .persistRegistered()
    val a = sk.select(
      col("source").as("src_a"), col("sk").as("sk_a"), col("est").as("est_a"))
    val b = sk.select(
      col("source").as("src_b"), col("sk").as("sk_b"), col("est").as("est_b"))
    val merged = slice(
      array_sort(array_union(col("sk_a"), col("sk_b"))), 1, k)
    a.crossJoin(broadcast(b))
      .where(col("src_a") < col("src_b"))
      .withColumn("est_union", estimate(merged, k))
      .withColumn("est_overlap",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
      .withColumn("jaccard_e4",
        expr("est_overlap * 10000 div est_union"))
      .select(
        col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_union"), col("est_overlap"), col("jaccard_e4"))
  }
}
