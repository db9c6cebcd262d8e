package graft.ext

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Exact φ-heavy hitters at corpus scale — the ClickHouse `topK()` /
  * frequent-items use case (which tokens/domains/users dominate the
  * stream), rebuilt as the scalable two-pass sketch-then-verify shape:
  *
  *  1. PASS 1 (one scan, no shuffle): a Misra–Gries summary per
  *     partition. Pigeonhole: any item with global count ≥ φN must have
  *     count_p > n_p/(cap+1) in at least one partition p (cap ≥ 2/φ),
  *     so the union of per-partition survivors is a guaranteed SUPERSET
  *     of the φ-heavy hitters. Each summary is ≤ cap entries, so the
  *     driver collects O(partitions × cap) — independent of data size.
  *  2. PASS 2 (one scan, aggregation over ~cap items): exact counts of
  *     the candidates via a broadcast semi-join, filtered at the φN
  *     threshold.
  *
  * The output is therefore EXACT (deterministic, oracle-able as a plain
  * GROUP BY ... HAVING) while neither pass ever shuffles the raw
  * stream: pass 1 is map-only, pass 2 aggregates a ≤cap-key frame. A
  * naive `groupBy(item).count()` shuffles every distinct item — at
  * 100 TB with billions of distinct keys that is the bottleneck this
  * operator exists to avoid. ClickHouse's topK is approximate
  * (SpaceSaving estimates); the verify pass upgrades it to exact for
  * one extra scan.
  */
object Frequent {

  /** Misra–Gries streaming summary: at most `cap` tracked items;
    * undercounts by ≤ n/(cap+1). Decrement-all amortizes to O(n): each
    * decrement round removes cap+1 from total tracked mass. */
  private[graft] def misraGries(
      it: Iterator[String], cap: Int): collection.Map[String, Long] = {
    val m = collection.mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val x = it.next()
      m.get(x) match {
        case Some(c) => m.update(x, c + 1)
        case None if m.size < cap => m.update(x, 1L)
        case None =>
          val dead = List.newBuilder[String]
          m.foreachEntry { (k, v) =>
            if (v == 1L) dead += k else m.update(k, v - 1) }
          dead.result().foreach(m.remove)
      }
    }
    m
  }

  /** Weighted Misra–Gries (Berinde et al., PODS'09): each eviction
    * round subtracts the map's minimum from every entry, removing at
    * least one — total subtracted mass ≤ W/(cap+1), so any item with
    * weight > W/(cap+1) survives. Decrement rounds are O(cap) per
    * untracked arrival (not amortized away as in the unit-weight case);
    * fine for the row-weighted use (revenue per key), use the
    * unweighted path for token streams. */
  private[graft] def misraGriesWeighted(
      it: Iterator[(String, Long)], cap: Int): collection.Map[String, Long] = {
    val m = collection.mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val (x, w) = it.next()
      if (w > 0) {
        m.get(x) match {
          case Some(c) => m.update(x, c + w)
          case None =>
            m.update(x, w)
            if (m.size > cap) {
              var d = Long.MaxValue
              m.foreachEntry { (_, v) => if (v < d) d = v }
              val dead = List.newBuilder[String]
              m.foreachEntry { (k, v) =>
                if (v <= d) dead += k else m.update(k, v - d) }
              dead.result().foreach(m.remove)
            }
        }
      }
    }
    m
  }

  /** All items of `itemCol` with count ≥ ceil(phi * N), with their exact
    * counts — columns (itemCol, n). Requires 0 < phi < 1; memory per
    * task is O(2/phi). */
  def heavyHitters(df: DataFrame, itemCol: String, phi: Double): DataFrame = {
    require(phi > 0 && phi < 1, s"phi must be in (0,1), got $phi")
    val cap = math.max(8, math.ceil(2.0 / phi).toInt)
    // Pass 1: per-partition summaries + per-partition row counts in one
    // scan. The count marker rides along as a (null-item) row so N needs
    // no second job.
    // null items are excluded up front: they could never match the
    // pass-2 equality probe anyway, and the null slot doubles as the
    // per-partition row-count marker below
    val summaries: Array[(String, Long)] = df
      .where(col(itemCol).isNotNull)
      .select(col(itemCol).cast("string").as("item"))
      .as[String](Encoders.STRING)
      .mapPartitions { it =>
        var n = 0L
        val counted = it.map { x => n += 1; x }
        val m = misraGries(counted, cap)
        (m.iterator.map { case (k, v) => (k, v) } ++
          Iterator.single((null: String, n))).toList.iterator
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .collect()
    val (threshold, candDf) = thresholdAndCandidates(df, summaries, phi)
    // Pass 2: exact verify — broadcast semi-join prunes the scan to the
    // candidate set before the (≤ cap-key) aggregation.
    df.join(
        broadcast(candDf),
        col(itemCol).cast("string") === col("__cand"), "left_semi")
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= threshold)
  }

  /** Shared pass-1 → pass-2 bridge: total mass and candidates out of
    * the collected summaries (null-keyed rows are the per-partition
    * mass markers). */
  private def thresholdAndCandidates(
      df: DataFrame, summaries: Array[(String, Long)],
      phi: Double): (Long, DataFrame) = {
    val total = summaries.collect { case (null, n) => n }.sum
    val threshold = math.ceil(phi * total).toLong
    val candidates = summaries
      .collect { case (k, _) if k != null => k }.distinct.toIndexedSeq
    val candDf = df.sparkSession
      .createDataset(candidates)(Encoders.STRING).toDF("__cand")
    (threshold, candDf)
  }

  /** Weighted φ-heavy hitters (ClickHouse `topKWeighted` upgraded to
    * exact): items whose summed `weightCol` ≥ ceil(phi * totalWeight),
    * with exact sums — columns (itemCol, w). Same two-pass shape as
    * [[heavyHitters]] with the weighted sketch in pass 1. Non-positive
    * weights are ignored (the sketch guarantee needs a monotone mass). */
  def heavyHittersWeighted(
      df: DataFrame, itemCol: String, weightCol: String,
      phi: Double): DataFrame = {
    require(phi > 0 && phi < 1, s"phi must be in (0,1), got $phi")
    val cap = math.max(8, math.ceil(2.0 / phi).toInt)
    val rows = df
      .where(col(itemCol).isNotNull && col(weightCol) > 0)
      .select(col(itemCol).cast("string").as("item"),
        col(weightCol).cast("long").as("w"))
    val summaries: Array[(String, Long)] = rows
      .as[(String, Long)](Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .mapPartitions { it =>
        var total = 0L
        val counted = it.map { xw => total += xw._2; xw }
        val m = misraGriesWeighted(counted, cap)
        (m.iterator.map { case (k, v) => (k, v) } ++
          Iterator.single((null: String, total))).toList.iterator
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .collect()
    val (threshold, candDf) = thresholdAndCandidates(df, summaries, phi)
    df.where(col(itemCol).isNotNull && col(weightCol) > 0)
      .join(
        broadcast(candDf),
        col(itemCol).cast("string") === col("__cand"), "left_semi")
      .groupBy(col(itemCol))
      .agg(sum(col(weightCol).cast("long")).as("w"))
      .where(col("w") >= threshold)
  }
}
