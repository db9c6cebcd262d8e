package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable event-funnel / cohort-retention operators — the ClickHouse
  * `windowFunnel()` / `retention()` surface (the reference's explorer
  * queries lean on ClickHouse for these; here they are library
  * operators over any event frame).
  *
  * Scale design: both are built from per-key aggregation passes only —
  * no per-user event collection (a power user costs aggregation, not
  * executor memory) and no window over the whole stream. The funnel's
  * N passes all hash-partition on the user key, so Spark reuses one
  * exchange across them.
  */
object EventOps {

  /** Ordered-step funnel: per user, the number of `steps` completed in
    * order — every step strictly after the previous one and within
    * `windowUs` of the FIRST step's match (ClickHouse windowFunnel
    * semantics). One aggregation pass per step; NULL propagation does
    * the gating (a missed step makes every later `when` null).
    *
    * Lazy-plan caveat: pass i+1 joins events against pass i's output,
    * so the unpinned plan re-derives earlier passes from the raw events
    * — ~2^steps event scans for a `steps`-long funnel (6 scans measured
    * for 3 steps). At benchmark scale that is CHEAPER than the
    * alternative (measured 0.4 s vs 1.4 s: three extra job barriers +
    * cache builds dominate re-scanning a small pushed-down projection),
    * so pinning is opt-in: set `pinPasses = true` when the events scan
    * is expensive enough (petabyte inputs, wide funnels) that one scan
    * per pass beats barrier latency — the per-user intermediates are
    * one row per user, so the persists themselves are tiny.
    *
    * `mode` mirrors ClickHouse windowFunnel's strictness knobs:
    * "base" (default), "strict_order" (any other event strictly
    * between two consecutive matches breaks the chain), "strict_dedup"
    * (a repeat of an already-matched step type between matches breaks
    * it). Timestamps already advance strictly (`>`), i.e.
    * strict_increase is always on. Output: (userCol, steps long).
    */
  def funnel(
      events: DataFrame, userCol: String, tsCol: String, typeCol: String,
      steps: Seq[String], windowUs: Long,
      pinPasses: Boolean = false, mode: String = "base"): DataFrame = {
    require(steps.nonEmpty, "funnel: at least one step")
    require(Seq("base", "strict_order", "strict_dedup").contains(mode),
      s"funnel: unknown mode $mode")
    val e = events.select(
      col(userCol), col(tsCol).as("_us"), col(typeCol).as("_ty"))
    def pin(df: DataFrame): DataFrame =
      if (!pinPasses) df
      else {
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count() // eager: consumed as a join side of the NEXT pass
        p
      }
    val first = pin(e.groupBy(userCol)
      .agg(min(when(col("_ty") === steps.head, col("_us"))).as("_t0")))
    val withAll = steps.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = col(s"_t${i - 1}")
        val carried = (0 until i).map(j => col(s"_t$j"))
        val rawT = min(when(col("_ty") === step &&
          col("_us") > prev && col("_us") <= col("_t0") + windowUs,
          col("_us"))).as("_raw")
        // ClickHouse strict modes: the chain BREAKS when an event
        // strictly between the previous match and the candidate match
        // (equal timestamps don't break — µs-granularity ties carry
        // no order) is, for strict_order, of any OTHER type in the
        // input frame (pre-filter the input to funnel-relevant types
        // for cond-only semantics), or, for strict_dedup, a repeat of
        // an already-matched step type. Same pass shape: one extra
        // min() riding the existing per-user aggregation — no
        // additional shuffle.
        if (mode == "base")
          pin(e.join(acc, Seq(userCol))
            .groupBy(col(userCol) +: carried: _*)
            .agg(rawT) // shared match predicate with the strict modes
            .withColumnRenamed("_raw", s"_t$i"))
        else {
          val breaker =
            if (mode == "strict_order")
              min(when(col("_ty") =!= step && col("_us") > prev,
                col("_us")))
            else
              min(when(col("_ty").isin(steps.take(i): _*) &&
                col("_us") > prev, col("_us")))
          pin(e.join(acc, Seq(userCol))
            .groupBy(col(userCol) +: carried: _*)
            .agg(rawT, breaker.as("_brk"))
            .withColumn(s"_t$i",
              when(col("_raw").isNotNull &&
                (col("_brk").isNull || col("_brk") >= col("_raw")),
                col("_raw")))
            .drop("_raw", "_brk"))
        }
    }
    // highest completed step: the fold leaves the DEEPEST step's check
    // outermost (i ascending, each new `when` wraps the accumulator)
    val highest = steps.indices.foldLeft(lit(0L): Column) { (acc, i) =>
      when(col(s"_t$i").isNotNull, lit((i + 1).toLong)).otherwise(acc)
    }
    withAll.select(col(userCol), highest.as("steps"))
  }

  /** Non-overlapping A-then-B occurrence count per key (ClickHouse
    * `sequenceCount('(?1)(?2)')` semantics: scan in time order, a match
    * consumes both events, search resumes after it). For a two-step
    * pattern the scan-greedy count collapses to a closed form — it is
    * exactly the number of B events whose immediately-preceding event
    * (among A/B events of the same key) is an A, i.e. the number of
    * A-run → B-run boundaries — so one lag window replaces the
    * sequential automaton and the operator parallelizes per key.
    * Output: (keyCol, n_sequences). */
  def sequenceCount(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      typeCol: String, first: String, second: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    events
      .where(col(typeCol).isin(first, second))
      .select(col(keyCol), col(tsCol), col(idCol), col(typeCol).as("_ty"))
      .withColumn("_prev", lag(col("_ty"), 1).over(w))
      .groupBy(col(keyCol))
      .agg(sum(when(col("_ty") === second && col("_prev") === first, 1L)
        .otherwise(0L)).as("n_sequences"))
  }

  /** First next event after an adjacent event chain — ClickHouse
    * `sequenceNextNode('forward', 'first_match')(ts, type, type = c₁,
    * type = c₂, …)`: per key, find the FIRST place where `chain`
    * occurs at consecutive positions of the (ts, id)-ordered event
    * stream, and return the type of the event immediately after it
    * (null when the chain ends the stream). Keys with no match emit no
    * row. One window shuffle: `lead` probes the chain positions, a
    * row_number picks the earliest match — Spark reuses the single
    * (key) exchange for both. Output: (keyCol, next_node). */
  def sequenceNextNode(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      typeCol: String, chain: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chain.nonEmpty, "sequenceNextNode: chain must be non-empty")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val matched = chain.zipWithIndex.map { case (step, i) =>
      (if (i == 0) col(typeCol) else lead(col(typeCol), i).over(w)) === step
    }.reduce(_ && _)
    events
      .select(col(keyCol), col(tsCol), col(idCol), col(typeCol))
      .withColumn("_next", lead(col(typeCol), chain.size).over(w))
      .withColumn("_hit", matched)
      .where(col("_hit"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col(keyCol), col("_next").as("next_node"))
  }

  /** Gap-constrained sequence existence per key — ClickHouse
    * `sequenceMatch('(?1)(?t<=gap)(?2)(?t<=gap)(?3)…')`: does the key
    * have events matching `steps` in strict time order with each
    * consecutive gap ≤ `maxGapUs`?
    *
    * NOT the greedy scan: anchoring on the first step-1 event is wrong
    * under a gap cap (A@0, A@60, B@100, gap 50 — only the second A
    * works). The correct dynamic program — an event of step i is
    * FEASIBLE iff a feasible step-(i−1) event precedes it within the
    * gap — runs as one carry window per step: order by (ts, id), carry
    * `last(feasible step-(i−1) time)` over the preceding rows, test the
    * gap. `steps.length` windows over the SAME key partitioning (one
    * shuffle, Spark reuses the exchange), linear per partition — no
    * joins, no per-key event collection. Output: (keyCol, matched —
    * true iff any feasible last-step event exists). */
  def sequenceMatchGaps(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      typeCol: String, steps: Seq[String], maxGapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(steps.size >= 2, "sequenceMatchGaps: need at least two steps")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("_us"), col("_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = events
      .where(col(typeCol).isin(steps.distinct: _*))
      .select(col(keyCol), col(tsCol).as("_us"), col(idCol).as("_id"),
        col(typeCol).as("_ty"))
      .withColumn("_f0", when(col("_ty") === steps.head, col("_us")))
    val withAll = steps.zipWithIndex.drop(1).foldLeft(e) {
      case (acc, (step, i)) =>
        // last feasible step-(i-1) time strictly before this row; the
        // -1 frame bound also enforces strict order for equal (ts, id)
        val carried = max(col(s"_f${i - 1}")).over(w)
        acc.withColumn(s"_f$i",
          when(col("_ty") === step &&
            carried.isNotNull && col("_us") - carried <= maxGapUs,
            col("_us")))
    }
    withAll.groupBy(col(keyCol))
      .agg((count(col(s"_f${steps.size - 1}")) > 0).as("matched"))
  }

  /** Maximum number of concurrently-open intervals per group
    * (ClickHouse `maxIntersections`): the classic boundary sweep — +1
    * at each start, -1 at each end (end exclusive: an interval ending
    * at t does not overlap one starting at t, so ends sort BEFORE
    * starts at the same instant), running sum, max. One sort per
    * group partition; never materializes the pairwise overlaps.
    * `events` rows open an interval [tsCol, tsCol + durationUs).
    * Output: (groupCol, max_concurrent).
    *
    * Scale note: parallelism equals the group key's cardinality (one
    * sorted sweep per group). With few groups and 100 TB of events,
    * use [[maxConcurrentBucketed]] — the same sweep partitioned by
    * (group, time-bucket) with per-bucket offsets stitched by a tiny
    * prefix sum, exact by construction (q59 hash-matches this
    * operator's oracle). */
  /** The +1/−1 boundary sweep shared by [[maxConcurrent]] and
    * [[maxConcurrentPosition]]: half-open intervals (an end at the
    * same µs as a start sorts FIRST via the _tie column), running sum
    * of deltas = live overlap at each boundary. One definition so the
    * two operators can never desynchronize their tie convention. */
  private def boundarySweep(
      events: DataFrame, groupCol: String, tsCol: String,
      durationUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val starts = events.select(col(groupCol), col(tsCol).as("_t"),
      lit(1L).as("_d"), lit(1).as("_tie"))
    val ends = events.select(col(groupCol),
      (col(tsCol) + durationUs).as("_t"), lit(-1L).as("_d"),
      lit(0).as("_tie"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("_t"), col("_tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    starts.unionByName(ends)
      .withColumn("_live", sum(col("_d")).over(w))
  }

  def maxConcurrent(
      events: DataFrame, groupCol: String, tsCol: String,
      durationUs: Long): DataFrame =
    boundarySweep(events, groupCol, tsCol, durationUs)
      .groupBy(col(groupCol))
      .agg(max(col("_live")).as("max_concurrent"))

  /** ClickHouse `maxIntersectionsPosition` companion to
    * [[maxConcurrent]]: the FIRST sweep position (µs) at which the
    * maximum overlap is reached — necessarily a start boundary, since
    * only +1 deltas raise the running sum. Same boundary sweep; the
    * argmin is one more window + filter over the swept frame, no
    * extra shuffle of raw rows. Output: (groupCol, max_concurrent,
    * position_us). */
  def maxConcurrentPosition(
      events: DataFrame, groupCol: String, tsCol: String,
      durationUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    boundarySweep(events, groupCol, tsCol, durationUs)
      .withColumn("_mx",
        max(col("_live")).over(Window.partitionBy(col(groupCol))))
      .where(col("_live") === col("_mx") && col("_d") === 1L)
      .groupBy(col(groupCol))
      .agg(max(col("_mx")).as("max_concurrent"),
        min(col("_t")).as("position_us"))
  }

  /** The 100 TB formulation of [[maxConcurrent]]: the boundary sweep
    * partitioned by (group, time-bucket) with per-bucket offsets
    * stitched afterwards — parallelism becomes groups × buckets instead
    * of groups, while the answer stays EXACT:
    * `live(x) = localRunningSum(x) + Σ (bucket totals before x's
    * bucket)`, because the running sum of +1/−1 deltas decomposes over
    * any prefix split. Phase 1 sweeps each bucket independently; phase
    * 2 is an exclusive prefix sum over the per-bucket TOTALS — a frame
    * with one row per (group, bucket), the same tiny-subtotal shape
    * Packing.packChunks uses. q59's oracle is the single-sweep SQL:
    * hash equality IS the stitching proof. */
  def maxConcurrentBucketed(
      events: DataFrame, groupCol: String, tsCol: String,
      durationUs: Long, bucketUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketUs > 0, "maxConcurrentBucketed: bucketUs must be > 0")
    val starts = events.select(col(groupCol), col(tsCol).as("_t"),
      lit(1L).as("_d"), lit(1).as("_tie"))
    val ends = events.select(col(groupCol),
      (col(tsCol) + durationUs).as("_t"), lit(-1L).as("_d"),
      lit(0).as("_tie"))
    val b = starts.unionByName(ends)
      .withColumn("_bucket", expr(s"_t div $bucketUs"))
    val local = Window.partitionBy(col(groupCol), col("_bucket"))
      .orderBy(col("_t"), col("_tie"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val withLocal = b.withColumn("_ls", sum(col("_d")).over(local))
    // per-bucket peak and closing total — one row per (group, bucket)
    val perBucket = withLocal.groupBy(col(groupCol), col("_bucket"))
      .agg(max(col("_ls")).as("_peak"), sum(col("_d")).as("_tot"))
    // exclusive prefix of totals = the offset each bucket opens at
    val byBucket = Window.partitionBy(col(groupCol)).orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perBucket
      .withColumn("_off", coalesce(sum(col("_tot")).over(byBucket), lit(0L)))
      .groupBy(col(groupCol))
      .agg(max(col("_peak") + col("_off")).as("max_concurrent"))
  }

  /** Cohort retention: users active on the earliest day of the frame,
    * re-counted at the given day offsets. `dayCol` must be an integer
    * day index (e.g. epoch-days). Output: (day_offset, n_active). */
  def retention(
      activity: DataFrame, userCol: String, dayCol: String,
      offsets: Seq[Long]): DataFrame = {
    val act = activity.select(col(userCol), col(dayCol).as("_day")).distinct()
    val d0 = act.agg(min(col("_day")).as("_day0"))
    val cohort = act.crossJoin(broadcast(d0))
      .where(col("_day") === col("_day0"))
      .select(userCol)
    act.crossJoin(broadcast(d0))
      .withColumn("day_offset", col("_day") - col("_day0"))
      .where(col("day_offset").isin(offsets: _*))
      .join(cohort, Seq(userCol), "left_semi")
      .groupBy("day_offset")
      .agg(countDistinct(col(userCol)).as("n_active"))
  }

  // ---- mergeable histogram-quantile sketch (q86) -----------------------

  /** Fixed histogram bucket width in cents — the q86 sketch contract
    * (inlined into the DuckDB oracle; change both together). */
  val HistBucketCents = 500L

  /** Quantile read-off over any (event_type, bucket, c) histogram
    * frame, pre-merged or not: buckets re-sum (the sketch union —
    * associative, any re-aggregation tree), then p50/p95 come from the
    * merged cumulative counts via the q52 integer-threshold rule
    * (smallest bucket with 2·cum ≥ n / 20·cum ≥ 19·n), reported as the
    * bucket's inclusive upper bound in cents. Windows run over the
    * ≤(types × buckets) merged frame, never raw events. */
  def histogramQuantiles(sketch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = sketch.groupBy("event_type", "bucket").agg(sum("c").as("c"))
    val cum = merged
      .withColumn("cum",
        sum("c").over(Window.partitionBy("event_type").orderBy("bucket")))
      .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
    cum.groupBy("event_type").agg(
      max(col("n")).cast("long").as("n"),
      (min(when(col("cum") * 2 >= col("n"), col("bucket"))) *
        HistBucketCents + (HistBucketCents - 1))
        .cast("long").as("p50_upper_c"),
      (min(when(col("cum") * 20 >= col("n") * 19, col("bucket"))) *
        HistBucketCents + (HistBucketCents - 1))
        .cast("long").as("p95_upper_c"))
  }

  /** Pairwise co-occurrence PMI over per-entity type sets — the
    * classic association-mining primitive (phrase mining, behavioral
    * correlation): for unordered type pair (a,b),
    * `PMI = ln(u_ab·n / (u_a·u_b))` over DISTINCT-entity incidence
    * counts, e6-floored on the identical left-associated double tree
    * both engines evaluate (the t14/t18 discipline). Positive = the
    * pair co-occurs more than independence predicts.
    *
    * Scale shape: one distinct on (entity, type) — the only
    * entity-cardinality shuffle — then a self-join keyed on the
    * ENTITY, whose output is bounded by |types|² per entity (types is
    * a small vocabulary by assumption, the ClickHouse enum shape);
    * the marginals and the 1-row total broadcast back onto the
    * pair frame. No all-pairs anything. Output:
    * (ta, tb, uxy, pmi_e6). */
  def typePmi(
      events: DataFrame, entityCol: String, typeCol: String): DataFrame = {
    val ut = events
      .select(col(entityCol).as("u"), col(typeCol).as("t")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ut.count() // eager: marginals + pairs + total consume it in one action
    val n = ut.select(count_distinct(col("u")).as("nu"))
    val ux = ut.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val pairs = ut.select(col("u"), col("t").as("ta"))
      .join(ut.select(col("u"), col("t").as("tb")), Seq("u"))
      .where(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("uxy"))
    pairs
      .join(broadcast(ux.select(col("t").as("ta"), col("c").as("ca"))), "ta")
      .join(broadcast(ux.select(col("t").as("tb"), col("c").as("cb"))), "tb")
      .join(broadcast(n))
      .select(col("ta"), col("tb"), col("uxy"),
        floor(
          log(col("uxy").cast("double") * col("nu").cast("double")
            / col("ca").cast("double") / col("cb").cast("double")) * 1e6)
          .cast("long").as("pmi_e6"))
  }
}
