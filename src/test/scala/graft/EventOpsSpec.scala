package graft

import graft.query.EventOps
import org.apache.spark.sql.functions.{approx_count_distinct, col, countDistinct, lit}

/** Semantics pins for the funnel/retention operators on crafted event
  * frames (the oracle covers them statistically at sf scale; these pin
  * the ordering/window edge cases one user at a time). */
class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  private val W = 100L // funnel window (µs-equivalent units)

  test("funnel: step ordering, window expiry and null gating") {
    val events = Seq(
      // u1: clean A→B→C inside the window → 3
      (1L, 0L, "A"), (1L, 10L, "B"), (1L, 20L, "C"),
      // u2: B before A only → stops at 1 (B must be strictly after A)
      (2L, 5L, "B"), (2L, 10L, "A"),
      // u3: B outside the window of the FIRST A → 1
      (3L, 0L, "A"), (3L, 101L, "B"),
      // u4: no A at all, later steps present → 0
      (4L, 0L, "B"), (4L, 1L, "C"),
      // u5: C before B (C must follow B) → 2
      (5L, 0L, "A"), (5L, 20L, "B"), (5L, 10L, "C"),
      // u6: second A would open a better window, but windowFunnel
      // anchors at the FIRST A: B at 150 is outside [0, 100] → 1
      (6L, 0L, "A"), (6L, 120L, "A"), (6L, 150L, "B"),
      // u7: boundary — B exactly at t0+W is included, C after B at the
      // same bound stays (strictly-after only between steps)
      (7L, 0L, "A"), (7L, 100L, "B"))
      .toDF("user_id", "us", "ty")
    val out = EventOps
      .funnel(events, "user_id", "us", "ty", Seq("A", "B", "C"), W)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 0L,
      5L -> 2L, 6L -> 1L, 7L -> 2L))
  }

  test("funnel: repeated step types re-match per pass (A→B→A)") {
    val events = Seq(
      (1L, 0L, "A"), (1L, 10L, "B"), (1L, 20L, "A"), // full A→B→A → 3
      (2L, 0L, "A"), (2L, 10L, "B"), // no second A → 2
      (3L, 0L, "A"), (3L, 10L, "A")) // A then A but no B between → 1
      .toDF("user_id", "us", "ty")
    val out = EventOps
      .funnel(events, "user_id", "us", "ty", Seq("A", "B", "A"), W)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
  }

  test("funnel strict_order: any intervening other-type event breaks") {
    val events = Seq(
      // u1: clean A→B→C, nothing between → 3
      (1L, 0L, "A"), (1L, 10L, "B"), (1L, 20L, "C"),
      // u2: A→B→D→C — D between B and C breaks → 2 (the doc example)
      (2L, 0L, "A"), (2L, 10L, "B"), (2L, 15L, "D"), (2L, 20L, "C"),
      // u3: A→D→B — D between A and B breaks → 1
      (3L, 0L, "A"), (3L, 5L, "D"), (3L, 10L, "B"),
      // u4: intervening event AFTER the match is harmless → 3
      (4L, 0L, "A"), (4L, 10L, "B"), (4L, 20L, "C"), (4L, 30L, "D"),
      // u5: other-type event at the SAME µs as the match doesn't
      // break (tie carries no order) → 2
      (5L, 0L, "A"), (5L, 10L, "D"), (5L, 10L, "B"))
      .toDF("user_id", "us", "ty")
    val out = EventOps
      .funnel(events, "user_id", "us", "ty", Seq("A", "B", "C"), W,
        mode = "strict_order")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 3L, 5L -> 2L))
  }

  test("funnel strict_dedup: repeat of a matched step type breaks") {
    val events = Seq(
      // u1: A,A,B — the second A (matched cond repeat) breaks → 1
      (1L, 0L, "A"), (1L, 5L, "A"), (1L, 10L, "B"),
      // u2: A→B then another A before C breaks the purchase leg → 2
      (2L, 0L, "A"), (2L, 10L, "B"), (2L, 15L, "A"), (2L, 20L, "C"),
      // u3: clean chain, unrelated type D between steps is fine → 3
      (3L, 0L, "A"), (3L, 5L, "D"), (3L, 10L, "B"), (3L, 20L, "C"),
      // u4: repeat AFTER the full chain is harmless → 3
      (4L, 0L, "A"), (4L, 10L, "B"), (4L, 20L, "C"), (4L, 30L, "A"))
      .toDF("user_id", "us", "ty")
    val out = EventOps
      .funnel(events, "user_id", "us", "ty", Seq("A", "B", "C"), W,
        mode = "strict_dedup")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L))
  }

  test("funnel: pinPasses=true is plan-only (same results)") {
    val events = Seq(
      (1L, 0L, "A"), (1L, 10L, "B"), (1L, 20L, "C"),
      (2L, 5L, "B"), (2L, 10L, "A"),
      (3L, 0L, "A"), (3L, 101L, "B")).toDF("user_id", "us", "ty")
    val lazyR = EventOps
      .funnel(events, "user_id", "us", "ty", Seq("A", "B", "C"), W)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val pinned = EventOps
      .funnel(events, "user_id", "us", "ty", Seq("A", "B", "C"), W,
        pinPasses = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(lazyR == pinned)
    spark.catalog.clearCache()
  }

  test("funnel: single-step degenerates to presence") {
    val events = Seq((1L, 0L, "A"), (2L, 0L, "B")).toDF("user_id", "us", "ty")
    val out = EventOps.funnel(events, "user_id", "us", "ty", Seq("A"), W)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 0L))
  }

  test("sequenceCount: scan-greedy non-overlapping A-then-B per key") {
    // one user per canonical sequence; expected = hand-run scan greedy
    val seqs = Map(
      1L -> ("AABB", 1L), // greedy consumes first A, first B
      2L -> ("ABAB", 2L),
      3L -> ("BAAB", 1L),
      4L -> ("ABBAB", 2L),
      5L -> ("BBA", 0L),
      6L -> ("ABXBA", 1L)) // non-pattern events ("X") are ignored
    val rows = seqs.toSeq.flatMap { case (u, (s, _)) =>
      s.zipWithIndex.map { case (c, i) =>
        (u, i.toLong, (u * 100 + i).toLong, c.toString) }
    }
    val df = rows.toDF("user_id", "us", "event_id", "ty")
    val out = EventOps
      .sequenceCount(df, "user_id", "us", "event_id", "ty", "A", "B")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === seqs.map { case (u, (_, n)) => u -> n })
  }

  test("maxConcurrent: boundary sweep, half-open intervals") {
    // duration 10: [0,10) [5,15) [9,19) overlap 3-deep at t=9;
    // [20,30) starts exactly where nothing is live; [30,40) touches
    // [20,30) only at the boundary -> NOT concurrent (end exclusive)
    val df = Seq(
      ("a", 0L), ("a", 5L), ("a", 9L), ("a", 20L), ("a", 30L),
      ("b", 0L), ("b", 100L)) // disjoint -> 1
      .toDF("g", "t")
    val out = EventOps.maxConcurrent(df, "g", "t", 10L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a" -> 3L, "b" -> 1L))
  }

  test("maxConcurrentPosition: first time the max is reached, " +
    "start boundaries only") {
    // intervals of length 10: peaks of depth 3 at t=4 (first) and
    // t=24 (second) — position must report the FIRST
    val events = Seq(
      ("g", 0L), ("g", 2L), ("g", 4L), // depth 3 at t=4
      ("g", 20L), ("g", 22L), ("g", 24L), // depth 3 again at t=24
      ("h", 0L), ("h", 100L)) // depth never exceeds 1 → position 0
      .toDF("grp", "us")
    val out = EventOps
      .maxConcurrentPosition(events, "grp", "us", durationUs = 10L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out("g") === ((3L, 4L)))
    assert(out("h") === ((1L, 0L)))
    // boundary: an interval ending exactly when another starts does
    // not overlap it (half-open) — depth 1, position = first start
    val touch = Seq(("t", 0L), ("t", 10L)).toDF("grp", "us")
    val t = EventOps
      .maxConcurrentPosition(touch, "grp", "us", durationUs = 10L)
      .collect().head
    assert((t.getLong(1), t.getLong(2)) === ((1L, 0L)))
  }

  test("retention: cohort = earliest day; offsets count distinct returners") {
    val act = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L), // cohort: day 10
      (1L, 11L), (2L, 11L), // day+1: two return
      (1L, 13L), // day+3: one returns
      (4L, 11L), (4L, 13L), // non-cohort user: never counted
      (2L, 10L)) // duplicate activity: still one user
      .toDF("user_id", "day")
    val out = EventOps.retention(act, "user_id", "day", Seq(0L, 1L, 3L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 3L, 1L -> 2L, 3L -> 1L))
  }

  test("NanosPredicatePushdown preserves range semantics on bounds " +
    "that are not µs-aligned") {
    // the rule rewrites `derived-nanos ⋈ literal` onto the native
    // timestamp with ceiling/floor-corrected bounds; every comparison
    // and both literal positions must agree with plain driver-side
    // arithmetic, including bounds ±1 ns and ±999 ns off alignment
    // (ts values are µs·1000, so misaligned bounds sit strictly
    // between representable instants — exactly where a rounding bug
    // would flip rows in or out)
    val ev = graft.query.Tables
      .load(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts"))
    val all = ev.collect().map(_.getLong(0))
    val base = all.sorted.apply(all.length / 2) // an occupied instant
    for (b <- Seq(base, base + 1, base + 999, base + 1000, base - 1)) {
      def n(df: org.apache.spark.sql.DataFrame) = df.count()
      assert(n(ev.where(col("ts") >= b)) === all.count(_ >= b), s">= $b")
      assert(n(ev.where(col("ts") > b)) === all.count(_ > b), s"> $b")
      assert(n(ev.where(col("ts") < b)) === all.count(_ < b), s"< $b")
      assert(n(ev.where(col("ts") <= b)) === all.count(_ <= b), s"<= $b")
      assert(n(ev.where(col("ts") === b)) === all.count(_ == b), s"== $b")
      assert(n(ev.where(lit(b) <= col("ts"))) === all.count(_ >= b),
        s"lit <= $b")
      assert(n(ev.where(lit(b) > col("ts"))) === all.count(_ < b),
        s"lit > $b")
    }
  }

  test("portable HLL (q36) estimates within the m=256 error band") {
    // replay equality is the oracle's job; this pins SEMANTIC sanity:
    // the union-merged register estimate must be within ~3σ of the
    // exact distinct count (σ = 1.04/√256 ≈ 6.5%)
    val dir = "/root/testdata/sf0.001"
    val est = SparkEntry.queries("q36_hll_daily_union")(spark, dir)
      .head().getLong(1)
    val exact = graft.query.Tables.load(spark, dir, "events")
      .select("user_id").distinct().count()
    val err = math.abs(est.toDouble - exact) / exact
    assert(err < 0.20, s"HLL estimate $est vs exact $exact (err $err)")
  }

  test("q12 portable HLL per event_type brackets the exact count; " +
    "native HLL++ sketch stays within its configured error") {
    // q12 moved from Spark's engine-internal approx_count_distinct
    // (rows-only — binary sketch internals are not replayable) to the
    // portable m=256 register pipeline with a full DuckDB oracle. The
    // NATIVE sketch surface remains exercised here: both estimators
    // must land within their error bands of the exact per-group count.
    val dir = "/root/testdata/sf0.001"
    val ev = graft.query.Tables.load(spark, dir, "events")
    val exact = ev.where(col("user_id").isNotNull)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val portable = SparkEntry.queries("q12_approx_distinct_users")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val native = ev
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(portable.keySet === exact.keySet)
    for ((et, n) <- exact) {
      val pErr = math.abs(portable(et).toDouble - n) / n
      assert(pErr < 0.25,
        s"portable HLL for $et: ${portable(et)} vs exact $n (err $pErr)")
      val nErr = math.abs(native(et).toDouble - n) / n
      assert(nErr < 0.05,
        s"native HLL++ for $et: ${native(et)} vs exact $n (err $nErr)")
    }
  }

  test("q30/q86 bucket precondition: event values are non-negative") {
    // both engines TRUNCATE toward zero (Spark `div` ≡ DuckDB `//`:
    // -7//2 = -3 on BIGINT and HUGEINT), so the oracles stay in hash
    // agreement on negative cents — but the bucket SEMANTICS break
    // identically on both: truncation makes bucket 0 span
    // [-499, 499] cents (double width) and q86's inclusive upper bound
    // `bucket*500 + 499` is wrong for every negative bucket. The
    // fixture is non-negative; a regen with negative values must fail
    // here with the real reason rather than ship silently-wrong
    // quantiles (the m3/m4 ASCII-gate pattern).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val neg = graft.query.Tables.load(spark, dir, "events")
        .where(col("value") < 0).count()
      assert(neg === 0L,
        s"$dir/events has $neg negative values: truncating bucketing " +
          "gives bucket 0 a double-width span and mis-labels negative " +
          "buckets' upper bounds (identically on both engines) — switch " +
          "q30/q86 to an explicit floor-div and fix the bound formula " +
          "before trusting the histograms")
    }
  }

  test("typePmi: hand-computed marginals, distinct-entity incidence, " +
    "no row for never-co-occurring pairs") {
    // u1{A,B} u2{A,B} u3{A,C} u4{B}; u1 repeats A (must collapse):
    // n=4, uA=3, uB=3, uC=1; AB=2, AC=1, BC absent
    val ev = Seq(
      (1L, "A"), (1L, "A"), (1L, "B"),
      (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"),
      (4L, "B")).toDF("user_id", "event_type")
    val got = EventOps.typePmi(ev, "user_id", "event_type")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet === Set(("A", "B"), ("A", "C")))
    // PMI(A,B) = ln(2·4/(3·3)) = ln(8/9) → floor(-117783.03…) = -117784
    assert(got(("A", "B")) === ((2L, -117784L)))
    // PMI(A,C) = ln(1·4/(3·1)) = ln(4/3) → floor(287682.07…) = 287682
    assert(got(("A", "C")) === ((1L, 287682L)))
    spark.catalog.clearCache()
  }
}
