package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators from the ClickHouse aggregate surface the
  * reference's users query with: interval-union length
  * (`intervalLengthSum`) and largest-triangle-three-buckets
  * downsampling (`largestTriangleThreeBuckets`).
  *
  * Scale design: both are per-key window pipelines — one shuffle on the
  * key, linear scans per partition, no self-joins, no driver-side
  * state. Integer event times/values stay integer until the last
  * possible step so oracles replay bit-exactly.
  */
object TimeSeries {

  /** Total length of the UNION of (possibly overlapping) half-open
    * intervals [start, end) per key — ClickHouse `intervalLengthSum`.
    * The classic islands formulation: sort by (start, end), a row opens
    * a new island when its start exceeds the running max of all
    * previous ends; summing (max end − min start) over islands counts
    * every overlapped stretch exactly once. Touching intervals
    * ([1,2),[2,3)) merge — same total either way under half-open
    * semantics. All integer arithmetic. Output: (keyCol,
    * interval_length_sum). */
  def intervalLengthSum(
      intervals: DataFrame, keyCol: String, startCol: String,
      endCol: String): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol))
      .over(byKey.rowsBetween(Window.unboundedPreceding, -1))
    val opens = when(
      prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L)
    intervals
      .withColumn("_island",
        sum(opens).over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("_island"))
      .agg((max(col(endCol)) - min(col(startCol))).as("_len"))
      .groupBy(col(keyCol))
      .agg(sum(col("_len")).as("interval_length_sum"))
  }

  /** Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013; the
    * ClickHouse `largestTriangleThreeBuckets` aggregate): keep the
    * first and last point per key, split the interior into
    * `nBuckets − 2` rank-equal buckets, and keep from each bucket the
    * point forming the largest triangle with its neighbor buckets'
    * anchors.
    *
    * FIXED-ANCHOR variant, deliberately: the textbook algorithm anchors
    * on the PREVIOUSLY SELECTED point, a sequential dependence that
    * serializes the whole key on one core. Anchoring on the neighbor
    * buckets' centroids (the same anchor the textbook uses for the
    * RIGHT side) makes every bucket independent — one shuffle, then
    * embarrassingly parallel — at a visual fidelity the original paper
    * measures as near-identical. First interior bucket anchors left on
    * the first point; last interior bucket anchors right on the last
    * point.
    *
    * Determinism across engines: anchors are `CAST(sum AS DOUBLE)/n`
    * (exact integer sums, one correctly-rounded division), the area is
    * a fixed double expression tree over those, and the per-bucket
    * argmax tie-breaks on rank — bit-equal in any IEEE engine, so the
    * operator is oracle-able. Keys with ≤ `nBuckets` points pass
    * through unchanged (nothing to downsample).
    *
    * Output: (keyCol, xCol, yCol) — the retained points. */
  def largestTriangleThreeBuckets(
      points: DataFrame, keyCol: String, xCol: String, yCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 3, s"lttb: need >= 3 buckets (got $nBuckets)")
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col(xCol), col(yCol))
    // persisted + eager: FOUR consumers (small passthrough, ends,
    // interior buckets, first/last edges) would otherwise each re-sort
    // the corpus through the rank window (the d5 recompute shape —
    // plan overhead dominated the operator at 10×, BASELINE.md "Scale
    // probe (round 5)": lttb near-flat 14.1 → 17.1 s). Skinny frame
    // (key, x, y, rn, n); caller-cleared per the Dedup convention.
    val ranked = points
      .select(col(keyCol), col(xCol), col(yCol))
      .withColumn("_rn", row_number().over(byKey))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ranked.count()
    val small = ranked.where(col("_n") <= nBuckets)
      .select(col(keyCol), col(xCol), col(yCol))
    val big = ranked.where(col("_n") > nBuckets)
    val ends = big.where(col("_rn") === 1 || col("_rn") === col("_n"))
      .select(col(keyCol), col(xCol), col(yCol))
    // interior points 2..n-1 → nBuckets-2 rank-equal buckets. `div`,
    // not `/`: Spark's `/` is double division, and a quotient one ulp
    // under an integer would round UP and mis-bucket the point (DuckDB's
    // `//` floors exactly).
    val inner = big
      .where(col("_rn") > 1 && col("_rn") < col("_n"))
      .withColumn("_b",
        expr(s"((_rn - 2) * ${nBuckets - 2}) div (_n - 2)"))
    // first/last point per key via lexicographic struct extrema (one
    // aggregation, no ordered window, fully deterministic)
    val edges = big.groupBy(col(keyCol))
      .agg(
        min(struct(col(xCol), col(yCol))).as("_f"),
        max(struct(col(xCol), col(yCol))).as("_l"))
      .select(col(keyCol),
        col("_f").getField(xCol).as("_fx"),
        col("_f").getField(yCol).as("_fy"),
        col("_l").getField(xCol).as("_lx"),
        col("_l").getField(yCol).as("_ly"))
    val cent = inner.groupBy(col(keyCol), col("_b"))
      .agg(sum(col(xCol)).as("_sx"), sum(col(yCol)).as("_sy"),
        count(lit(1)).as("_c"))
    val byBucket = Window.partitionBy(col(keyCol)).orderBy(col("_b"))
    val anchored = cent
      .withColumn("_ax", lag(col("_sx"), 1).over(byBucket))
      .withColumn("_ay", lag(col("_sy"), 1).over(byBucket))
      .withColumn("_ac", lag(col("_c"), 1).over(byBucket))
      .withColumn("_cx", lead(col("_sx"), 1).over(byBucket))
      .withColumn("_cy", lead(col("_sy"), 1).over(byBucket))
      .withColumn("_cc", lead(col("_c"), 1).over(byBucket))
      .join(edges, Seq(keyCol))
      .select(
        col(keyCol), col("_b"),
        // left anchor: previous bucket's centroid, or the first point
        coalesce(col("_ax").cast("double") / col("_ac"),
          col("_fx").cast("double")).as("ax"),
        coalesce(col("_ay").cast("double") / col("_ac"),
          col("_fy").cast("double")).as("ay"),
        // right anchor: next bucket's centroid, or the last point
        coalesce(col("_cx").cast("double") / col("_cc"),
          col("_lx").cast("double")).as("cx"),
        coalesce(col("_cy").cast("double") / col("_cc"),
          col("_ly").cast("double")).as("cy"))
    val area = abs(
      (col("ax") - col("cx")) * (col(yCol).cast("double") - col("ay")) -
        (col("ax") - col(xCol).cast("double")) * (col("cy") - col("ay")))
    val picked = inner.join(anchored, Seq(keyCol, "_b"))
      .withColumn("_area", area)
      .withColumn("_pick", row_number().over(
        Window.partitionBy(col(keyCol), col("_b"))
          .orderBy(col("_area").desc, col("_rn").asc)))
      .where(col("_pick") === 1)
      .select(col(keyCol), col(xCol), col(yCol))
    small.unionByName(ends).unionByName(picked)
  }
}
