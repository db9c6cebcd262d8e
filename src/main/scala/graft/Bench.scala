package graft
import org.apache.spark.sql.SparkSession

/** Per-query historical BANDS — the anchor-variance discipline: the
  * round-11 idle anchors spanned 145–193 s (±15% ambient), which
  * erodes a total-level 2× gate; a per-query [lo, hi] band lets a
  * single query's drift be judged against ITS OWN history instead of
  * the noisy total. Bands live in BENCH_FULL.json and only ever widen
  * in ANCHOR runs (`SPARK_GRAFT_BENCH_ANCHOR=1` — the idle, committed
  * runs); a driver-run bench on a loaded machine reports violations
  * against the committed bands but cannot loosen them (a hot run that
  * widened `hi` would silently raise every future gate). A violation
  * needs BOTH the relative (>1.5× band hi) and absolute (≥0.5 s over)
  * excess — the vs_idle rule, applied per band.
  *
  * Round-13 hygiene: an anchor run additionally needs a HEALTHY host
  * fingerprint ([[HostFingerprint]]) to widen — the round-12 anchor
  * ran on a host at 6.25 ms fsync(4k) and permanently encoded the
  * pathology into `hi` for every state-store-bound query (p11
  * 15.9 s vs true 1.76 s capability), making the gate vacuous exactly
  * where it mattered. A degraded-fingerprint anchor now degrades to a
  * flag-only run (loud stderr warning); `SPARK_GRAFT_BENCH_RESEED=1`
  * on a healthy anchor REPLACES the committed bands with this run's
  * seeds instead of unioning, which is how a polluted `hi` is retired.
  */
object BenchBands {
  /** Parse `"bands":{"name":[lo,hi],...}` out of a BENCH_FULL line. */
  def parse(s: String): Map[String, (Double, Double)] = {
    val at = s.indexOf("\"bands\"")
    if (at < 0) Map.empty
    else
      "\"([a-z0-9_]+)\":\\[(-?[0-9.]+),(-?[0-9.]+)\\]".r
        .findAllMatchIn(s.substring(at))
        .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble))
        .toMap
  }

  def render(bands: Map[String, (Double, Double)]): String =
    bands.toSeq.sortBy(_._1)
      .map { case (k, (lo, hi)) => s""""$k":[${r3(lo)},${r3(hi)}]""" }
      .mkString("{", ",", "}")

  /** Next band state: anchor runs widen (or seed) each measured
    * query's band; non-anchor runs pass the committed bands through
    * UNTOUCHED (minus queries that left the pack — a stale band would
    * gate nothing and bloat the file forever). Failed runs (s < 0)
    * never touch a band.
    *
    * Widening is CLAMPED ([[widenHi]]): the round-13 anchor passed
    * both fingerprint gates (healthy I/O start AND end) yet mid-run
    * CPU transients hit a handful of queries (q1 2.6 s vs its 0.19 s
    * record, 13.7×) — unclamped union would have made exactly those
    * gates vacuous, the r12 pollution pattern in CPU form. One anchor
    * may grow a query's hi to at most max(2×hi, hi+0.5 s): a
    * transient decays instead of persisting, while a GENUINE new cost
    * level converges geometrically across anchors and keeps flagging
    * `band_viol` until the band catches up — slow to forgive, loud
    * meanwhile. */
  def merge(
      old: Map[String, (Double, Double)], results: Seq[(String, Double)],
      anchor: Boolean): Map[String, (Double, Double)] = {
    val names = results.map(_._1).toSet
    val kept = old.filter { case (k, _) => names.contains(k) }
    if (!anchor) kept
    else kept ++ results.filter(_._2 >= 0).map { case (k, s) =>
      kept.get(k) match {
        case Some((lo, hi)) => k -> (math.min(lo, s), widenHi(hi, s))
        case None => k -> (s, s)
      }
    }.toMap
  }

  /** One anchor's max hi growth: to `s`, capped at max(2×hi, hi+0.5). */
  def widenHi(hi: Double, s: Double): Double =
    if (s <= hi) hi else math.min(s, math.max(hi * 2, hi + 0.5))

  /** Queries whose current seconds exceed their committed band by both
    * the relative and absolute gates. */
  def violations(
      bands: Map[String, (Double, Double)],
      results: Seq[(String, Double)]): Seq[String] =
    results.collect {
      case (k, s) if s > 0 && bands.get(k).exists { case (_, hi) =>
        hi > 0 && s / hi >= 1.5 && s - hi >= 0.5 } => k
    }.sorted

  private def r3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
}

/** Host-environment fingerprint emitted with every bench line — the
  * round-12 lesson: three rounds of judge cycles went to adjudicating
  * whether per-query spikes were plan regressions or host pathology
  * (they were the host: fsync(4k) median 6.25–15.2 ms vs the sub-2 ms
  * this machine idles at, 5.4 % CPU steal). The fingerprint makes each
  * line carry its own environment so that adjudication is a lookup,
  * and it GATES anchor-band widening (see [[BenchBands]]).
  *
  *  - `fsyncMs`: median of `writes` 4 KiB write+force cycles against
  *    `java.io.tmpdir` — the SAME filesystem the streaming state
  *    stores and ephemeral checkpoints land on, so it prices exactly
  *    the syscall the Tws-family queries are hostage to.
  *  - `stealPct`: CPU steal over a 1 s `/proc/stat` window (a noisy
  *    hypervisor neighbor shows up here before it shows in loadavg;
  *    shorter windows flagged ~3 % transients on a healthy host).
  *  - `load1`: 1-minute loadavg, reported but NOT gated on — the
  *    driver may run the bench right after other work and a decaying
  *    loadavg says nothing about the run ahead.
  */
object HostFingerprint {
  final case class Fp(
      fsyncMs: Double, fsyncP95Ms: Double, stealPct: Double, load1: Double) {
    /** Degraded = unfit to WIDEN anchor bands. Thresholds sit between
      * this host's measured-idle values (fsync ~1.7 ms, steal ~2 %)
      * and the round-12 pathology (6.25 ms fsync / 5.4 % sustained
      * steal). Steal gates at 4 %: even over the 1 s window, ~3 %
      * transients were observed right after a heavy run on a healthy
      * host, and fsync is the load-bearing gate for the state-store
      * family anyway. */
    def degraded: Boolean = fsyncMs > 3.0 || stealPct > 4.0
    def json: String =
      s"""{"fsync_ms":${r(fsyncMs)},"fsync_p95_ms":${r(fsyncP95Ms)},""" +
        s""""steal_pct":${r(stealPct)},"load1":${r(load1)}}"""
    private def r(v: Double): String =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
  }

  def probe(writes: Int = 50): Fp = {
    val (med, p95) =
      try {
        val f = java.io.File.createTempFile("graft-fsync-probe", ".bin")
        try {
          val ch = java.nio.channels.FileChannel.open(
            f.toPath, java.nio.file.StandardOpenOption.WRITE)
          try {
            val buf = java.nio.ByteBuffer.allocate(4096)
            val times = (0 until writes).map { _ =>
              buf.rewind()
              val t0 = System.nanoTime()
              ch.write(buf, 0L); ch.force(true)
              (System.nanoTime() - t0) / 1e6
            }.sorted
            (times((times.size - 1) / 2),
              times(math.min(times.size - 1, (times.size * 95) / 100)))
          } finally ch.close()
        } finally f.delete()
      } catch { case _: Throwable => (-1.0, -1.0) }
    val steal =
      try {
        def cpu(): Seq[Long] = {
          val line = java.nio.file.Files.readAllLines(
            java.nio.file.Paths.get("/proc/stat")).get(0)
          line.trim.split("\\s+").drop(1).toSeq.map(_.toLong)
        }
        val a = cpu(); Thread.sleep(1000); val b = cpu()
        val d = a.zip(b).map { case (x, y) => y - x }
        val tot = d.sum.toDouble
        if (tot <= 0 || d.size < 8) 0.0 else 100.0 * d(7) / tot
      } catch { case _: Throwable => -1.0 }
    val load1 =
      try java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/loadavg")).get(0)
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    Fp(med, p95, steal, load1)
  }
}

/** Line composition shared by the in-run emitters and the spec — the
  * partial-line format is a CONTRACT (BenchContractSpec pins it): the
  * driver's capture keeps only the tail of stdout, so every partial
  * line must be a complete, parseable driver-format JSON object that
  * could stand as the round's artifact if the kill lands right after
  * it. */
object BenchFormat {
  def r3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  def famOf(n: String): String = n.takeWhile(!_.isDigit)

  /** Per-family subtotals `{"d":12.3,"q":4.5,...}` — constant width at
    * any pack size. */
  def famJson(results: Seq[(String, Double)]): String = results
    .groupBy(e => famOf(e._1)).toSeq.sortBy(_._1)
    .map { case (f, rs) => "\"" + f + "\":" + r3(rs.map(_._2).sum) }
    .mkString("{", ",", "}")

  /** The survivability line printed at each family boundary. */
  def partialLine(
      results: Seq[(String, Double)], nQueries: Int, envJson: String,
      sfDir: String): String = {
    val total = results.map(_._2).sum
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","partial":true,""" +
      s""""completed":${results.size},"n_queries":$nQueries,""" +
      s""""families":${famJson(results)},"env":$envJson,"sf":"$sfDir"}"""
  }
}

object Bench {
  /** Core count when SPARK_GRAFT_CPUS is unset (the target environment's
    * local[32]); a run at this count writes the unsuffixed record. */
  private val DefaultCpus = "32"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the target environment (local[32]) — benching on a
    // 4-thread session when the env var is absent understates the
    // shuffle-heavy queries ~2.5x (observed in round 1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", DefaultCpus)
    // Shuffle scratch on the fastest local storage available
    // (guide §2.1: shuffle file I/O can bind before the network; the
    // r14 measured ~30–80 ms of shuffle-write time PER MAP TASK on the
    // bench host's ext4 /tmp regardless of bytes — pure file metadata
    // latency — and ~half that on tmpfs). Parameterized:
    // SPARK_GRAFT_LOCAL_DIR overrides; default prefers /dev/shm when
    // it exists (Linux tmpfs — RAM-backed, fine for this pack's
    // MB-scale shuffles), else Spark's own default. Production sizing
    // note (OPTIMIZATION_r14.md): at cluster scale this setting is
    // "point spark.local.dir at the NVMe array", not tmpfs — the knob
    // is the same, the medium differs with the shuffle volume.
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isWritable(shm))
        Some("/dev/shm/graft-shuffle-scratch")
      else None
    }
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    val spark = localDir.fold(builder0)(d => builder0.config("spark.local.dir", d))
      // 49 queries x several stages each overflow the default 100-entry
      // generated-class cache; evictions force janino recompiles of the
      // wide signature expressions on every run (static conf — must be
      // set before the session exists)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.query.Tables.configure(spark)
    // ---- unkeyed-window adjudicator (GlobalWindows): every executed
    // plan of the bench run — internal training/threshold actions
    // included, which the final query lineage can't see — is walked
    // for single-partition WindowExecs and attributed to the running
    // query. The census lands in BENCH_FULL.json; any query NOT on
    // the GlobalWindows.whitelist is a violation, flagged on stderr
    // and in the emitted line, so the "WindowExec: No Partition
    // Defined" WARNs in the log are adjudicated per site instead of
    // scrolling by. (The listener bus is async — drained with a grace
    // sleep before reporting; the hard per-query gate is
    // GlobalWindowSpec, which re-derives the census synchronously.)
    val gwCensus = scala.collection.mutable.Map[String, Long]()
    @volatile var gwCurrent = "_setup"
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(
            funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val n =
            try graft.plans.GlobalWindows.countExecuted(qe.executedPlan)
            catch { case _: Throwable => 0 }
          if (n > 0) gwCensus.synchronized {
            gwCensus(gwCurrent) = gwCensus.getOrElse(gwCurrent, 0L) + n
          }
        }
        override def onFailure(
            funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    // ---- survivability state (round 13): the round-12 driver bench
    // was timeout-killed mid-pack and the round's artifact came back
    // rc=124/parsed:null despite 200 completed green queries — the
    // harness emitted its one summary line only after ALL queries ×
    // all runs. Now: results accumulate in a shared buffer, a partial
    // summary line is printed at every family boundary, and a JVM
    // shutdown hook emits the final line (+ BENCH_FULL.json) for
    // whatever completed the moment SIGTERM lands. The main loop
    // checks the emitted flag and stops cleanly so post-hook stderr
    // noise can't wash the line out of the driver's capture window.
    val completed = new scala.collection.mutable.ArrayBuffer[(String, Double)]
    val emittedFinal = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var singleRunFrom: Option[String] = None
    var lastPartialAt = 0.0
    val wallStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - wallStart) / 1e9
    // wall-clock budget (seconds): past it, remaining queries run ONCE
    // (no warmup, no repeats) — a degraded host then yields a complete
    // single-run pack instead of a killed half-pack. Full-pack runs
    // default to 1800 s: a healthy host finishes the whole pack in
    // 250–900 s so the default never engages there, while the r12-class
    // pathological host (3.58× idle, driver timeout-killed at ~87%
    // coverage) flips to single-run with enough headroom to complete
    // every family before any launcher timeout. Filtered dev runs and
    // ANCHOR runs get no default: a dev timing one heavy family
    // expects full runs, and an anchor must keep one uniform timing
    // regime (a mixed best-of-N/single-run anchor would seed bands
    // from two different distributions).
    val budget: Option[Double] =
      sys.env.get("SPARK_GRAFT_BENCH_BUDGET").flatMap(_.toDoubleOption)
        .orElse(
          if (args.isEmpty &&
            !sys.env.get("SPARK_GRAFT_BENCH_ANCHOR").contains("1"))
            Some(1800.0)
          else None)
    // two timed runs per query, best-of — single-shot numbers at these
    // scales are dominated by JIT/codegen warmup, not the plan
    def timeOnce(
        name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // a failed query must not masquerade as a fast one — flag it on
      // stderr (stdout is the capture window) and return a sentinel.
      // After the shutdown hook has emitted, stay silent: 30 post-
      // SIGTERM fast-throws of stderr noise would push the emitted
      // line out of the driver's ~2000-char tail (observed round 12).
      val ok = try { fn(spark, sfDir).count(); true }
      catch { case t: Throwable =>
        if (!emittedFinal.get) System.err.println(s"BENCH FAIL $name: $t")
        false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      graft.ext.Caches.release(); spark.catalog.clearCache() // free per-query persisted frames
      if (ok) dt else -1.0
    }
    // optional dev filter (1st arg, comma-separated name prefixes) — the
    // driver always calls with no args, so its behavior is unchanged
    val keep: String => Boolean =
      if (args.nonEmpty) { val ps = args(0).split(',').toSeq
        (n: String) => ps.exists(n.startsWith)
      } else _ => true
    val repoRoot = sys.env.get("SPARK_GRAFT_REPO_DIR")
      .orElse(Option("/root/repo").filter(p => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))))
      .getOrElse(".")
    // ---- self-adjudication anchor: per-query seconds from the last
    // COMMITTED idle run (git HEAD's BENCH_FULL.json; fallback = the
    // working-tree file BEFORE this run overwrites it). Driver-run
    // bench lands on a loaded machine — three rounds of judge cycles
    // went to re-proving that d-family spikes were load, not
    // regressions (BASELINE.md variance rule), so the emitted line now
    // carries its own verdict: worst per-query ratios vs the idle
    // anchor. Read EAGERLY, before the overwrite below. ----
    val anchorSrc: Option[String] = {
      def gitShow: Option[String] =
        try {
          val p = new ProcessBuilder(
            "git", "-C", repoRoot, "show", "HEAD:BENCH_FULL.json").start()
          val out = new String(p.getInputStream.readAllBytes, "UTF-8")
          if (p.waitFor() == 0 && out.contains("\"queries\"")) Some(out)
          else None
        } catch { case _: Throwable => None }
      def onDisk: Option[String] =
        try {
          val f = java.nio.file.Paths.get(repoRoot, "BENCH_FULL.json")
          if (java.nio.file.Files.isReadable(f))
            Some(java.nio.file.Files.readString(f))
          else None
        } catch { case _: Throwable => None }
      gitShow.orElse(onDisk)
    }
    val idleAnchor: Map[String, Double] = anchorSrc.map { s =>
      // the queries object ends where the next top-level key ("vs_idle"
      // or "bands") begins — the band entries' [lo,hi] values would
      // otherwise be misread as query seconds by the flat regex
      val at = s.indexOf("\"queries\"")
      if (at < 0) Map.empty[String, Double]
      else {
        val tail = s.substring(at)
        val end = tail.indexOf('}')
        val qs = if (end < 0) tail else tail.substring(0, end + 1)
        "\"([a-z0-9_]+)\":(-?[0-9.]+)".r.findAllMatchIn(qs)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }.getOrElse(Map.empty)
    // committed per-query bands (the anchor-variance discipline — see
    // [[BenchBands]]); violations are judged against THESE, the merge
    // below only widens them in anchor runs
    val oldBands: Map[String, (Double, Double)] =
      anchorSrc.map(BenchBands.parse).getOrElse(Map.empty)
    // ---- host fingerprint + anchor gating (round 13): an anchor on a
    // degraded host must not widen bands (the r12 pollution); it
    // degrades to flag-only with a loud warning. FORCE overrides for
    // deliberate degraded-envelope studies; RESEED (healthy anchors
    // only) replaces the committed bands with this run's seeds — the
    // retirement path for polluted hi values.
    var fp = HostFingerprint.probe()
    val anchorWanted = sys.env.get("SPARK_GRAFT_BENCH_ANCHOR").contains("1")
    val anchorForced =
      sys.env.get("SPARK_GRAFT_BENCH_ANCHOR_FORCE").contains("1")
    // SPARK_GRAFT_BENCH_WAIT_HEALTHY=N (seconds): in anchor mode, poll
    // the fingerprint for up to N seconds and start the pack the moment
    // the host is healthy. Round-13 found this host flipping
    // pathological FASTER than an sbt+Spark launch (an external
    // pre-flight probe read 0.29 ms fsync; the in-JVM probe ~2 min
    // later read 7.99), so pre-flight probes outside the JVM keep
    // losing the race — polling from the already-warm JVM closes the
    // probe-to-start gap to ~0.
    val waitHealthy = sys.env.get("SPARK_GRAFT_BENCH_WAIT_HEALTHY")
      .flatMap(_.toIntOption).getOrElse(0)
    if (anchorWanted && waitHealthy > 0 && fp.degraded) {
      val deadline = System.nanoTime() + waitHealthy * 1000000000L
      while (fp.degraded && System.nanoTime() < deadline) {
        System.err.println(s"BENCH WAIT-HEALTHY: degraded ${fp.json}, polling")
        Thread.sleep(30000)
        fp = HostFingerprint.probe()
      }
      System.err.println(s"BENCH WAIT-HEALTHY done: ${fp.json}")
    }
    val anchorRun = anchorWanted && (!fp.degraded || anchorForced)
    if (anchorWanted && !anchorRun)
      System.err.println(
        s"BENCH ANCHOR REFUSED (degraded host fingerprint ${fp.json}): " +
          "running flag-only; set SPARK_GRAFT_BENCH_ANCHOR_FORCE=1 to override")
    val reseed =
      anchorRun && sys.env.get("SPARK_GRAFT_BENCH_RESEED").contains("1")
    // runs-per-query regime: default 2 ⇒ the historical best-of-2
    // (warmup run counts); 3 ⇒ lower median of the 2 post-warmup runs;
    // 4 ⇒ a true 3-run median. Anchors use 4 — single-shot anchors
    // moved the committed reference by ±15% round to round.
    val benchRuns = math.min(9, math.max(2,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS").flatMap(_.toIntOption)
        .getOrElse(2)))
    def r3(v: Double): String = BenchFormat.r3(v)
    val queryList = SparkEntry.queries.toSeq.filter(e => keep(e._1)).sortBy(_._1)
    def famOf(n: String): String = BenchFormat.famOf(n)

    // ---- the one-line emitters. Everything below works off a snapshot
    // of `completed` and census state so the shutdown hook can run them
    // mid-pack with no Spark involvement.
    def gwState(): (String, Seq[String]) = gwCensus.synchronized {
      val json = gwCensus.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val viol = gwCensus.keys
        .filterNot(graft.plans.GlobalWindows.runtimeWhitelisted)
        .filterNot(Set("_setup", "_warmup")).toSeq.sorted
      (json, viol)
    }
    def vsIdleJson(results: Seq[(String, Double)]): String = {
      // worst ratios vs the idle anchor: relative AND absolute gates so
      // sub-100ms jitter on tiny queries never ranks; top 5 by ratio
      val comparable = results.filter { case (n, s) =>
        s > 0 && idleAnchor.get(n).exists(_ > 0) }
      if (comparable.isEmpty) ""
      else {
        val idleTotal = comparable.map(e => idleAnchor(e._1)).sum
        val curTotal = comparable.map(_._2).sum
        val worst = comparable
          .map { case (n, s) => (n, s, idleAnchor(n), s / idleAnchor(n)) }
          .filter { case (_, s, idle, x) => x >= 1.5 && s - idle >= 0.5 }
          .sortBy(-_._4).take(5)
          .map { case (n, s, idle, x) =>
            s"""{"q":"$n","s":${r3(s)},"idle":${r3(idle)},"x":${
              BigDecimal(x).setScale(1, BigDecimal.RoundingMode.HALF_UP)}}"""
          }.mkString("[", ",", "]")
        s""","vs_idle":{"idle_total":${r3(idleTotal)},"total_x":${
          BigDecimal(curTotal / idleTotal)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP)},"worst":$worst}"""
      }
    }
    def famJson(results: Seq[(String, Double)]): String =
      BenchFormat.famJson(results)
    // partial survivability line: per-FAMILY subtotals (constant width
    // at any pack size), marked partial, printed at each family
    // boundary so the driver's tail window always holds a parseable
    // line no matter where a kill lands
    def emitPartial(): Unit = {
      val results = completed.synchronized { completed.toList }
      println(BenchFormat.partialLine(results, queryList.size, fp.json, sfDir))
      Console.out.flush()
    }
    // The harness that collects this output keeps only the LAST ~2000
    // characters of stdout (observed rounds 1-2: the head of a full-name
    // per-query line was truncated away, losing the headline value). So:
    //  - stdout gets ONE compact line that fits the window: query keys are
    //    the unique family prefix before the first '_' (d1, q14, t11 ...;
    //    full-name mapping documented in BASELINE.md), seconds rounded to ms
    //  - the full-name timings go to BENCH_FULL.json alongside the repo
    // per-query band bookkeeping: violations vs the COMMITTED bands,
    // then the (anchor-widened, reseeded, or passed-through) bands ride
    // the full line so the next run reads them from HEAD
    def emitFinal(): Unit = if (emittedFinal.compareAndSet(false, true)) {
      val results = completed.synchronized { completed.toList }
      val (gwJson, gwViol) = gwState()
      if (gwViol.nonEmpty)
        System.err.println(s"BENCH GLOBAL-WINDOW VIOLATIONS: ${gwViol.mkString(",")}")
      val gwViolJson =
        if (gwViol.isEmpty) ""
        else s""","gw_viol":${gwViol.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      val total = results.map(_._2).sum
      val vsIdle = vsIdleJson(results)
      // anchor widening needs: the WHOLE pack measured (a killed
      // anchor is flag-only — its completed queries were measured
      // under unknown end-state I/O), plus a healthy fingerprint at
      // BOTH ends of the run — this host's fsync was observed jumping
      // 0.18 → 8.9 ms within one session, so a clean start probe says
      // nothing about minute 20. The end probe runs quiesced (all
      // queries done) and never from the shutdown hook.
      val complete = results.size == queryList.size
      val inHook = Thread.currentThread().getName == "graft-bench-emit"
      val endFp =
        if (anchorRun && complete && !inHook) {
          // settle first: measured right at run end, our OWN 32-thread
          // burn shows up as a 5%-class steal transient (observed
          // 5.13% with ambient at 0.2% minutes before and after) —
          // that is demand contention from the finished run, not a
          // corrupted-measurement signal
          Thread.sleep(2000)
          Some(HostFingerprint.probe())
        } else None
      // end gate: fsync at full strictness (a mid-run I/O degradation
      // is exactly what poisoned the r12 anchor), steal at a loose 8%
      // (only hard sustained pathology — the start probe already gates
      // genuine ambient steal at 4% before anything runs)
      val widen = anchorRun && complete && !inHook &&
        endFp.forall(e =>
          !(e.fsyncMs > 3.0 || e.stealPct > 8.0) || anchorForced)
      if (anchorRun && !widen)
        System.err.println(
          "BENCH ANCHOR DEMOTED to flag-only: " + (
            if (!complete || inHook) "incomplete run (killed mid-pack)"
            else s"degraded END fingerprint ${endFp.fold("")(_.json)}"))
      val endEnvJson = endFp.fold("")(e => s""","env_end":${e.json}""")
      val newBands =
        BenchBands.merge(if (reseed && widen) Map.empty else oldBands,
          results, widen)
      val bandViol = BenchBands.violations(oldBands, results)
      if (bandViol.nonEmpty)
        System.err.println(s"BENCH BAND VIOLATIONS: ${bandViol.mkString(",")}")
      val bandViolJson =
        if (bandViol.isEmpty) ""
        else s""","band_viol":${bandViol.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      val bandsJson =
        if (newBands.isEmpty) ""
        else s""","bands":${BenchBands.render(newBands)}"""
      val partialJson =
        if (results.size == queryList.size) ""
        else s""","partial":true,"completed":${results.size},"n_queries":${queryList.size}"""
      val singleRunJson =
        singleRunFrom.fold("")(n => s""","single_run_from":"$n"""")
      val fullQs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
      val fullLine = s"""{"metric":"total","value":${r3(total)},"unit":"sec"$partialJson$singleRunJson,"queries":$fullQs$vsIdle$bandsJson$bandViolJson,"global_windows":$gwJson$gwViolJson,"env":${fp.json}$endEnvJson,"sf":"$sfDir"}"""
      // resolve against a known root, not the process cwd — a launcher with a
      // different working directory would otherwise scatter (or lose) the file;
      // failures go to stderr (stdout is the 2000-char capture window).
      // Filtered dev runs never overwrite the full-pack record.
      // Round-15: a run at a non-default core count writes
      // BENCH_FULL_c<cpus>.json — the round-14 8-core scaling probe
      // overwrote the 32-core per-query record and emptied PERF's
      // scaling block; per-cpus files make the two runs coexist.
      val fullName =
        if (cpus == DefaultCpus) "BENCH_FULL.json" else s"BENCH_FULL_c$cpus.json"
      if (args.isEmpty) {
        val fullPath = java.nio.file.Paths.get(repoRoot, fullName)
        try java.nio.file.Files.write(fullPath, (fullLine + "\n").getBytes("UTF-8"))
        catch { case t: Throwable => System.err.println(s"WARN: could not write $fullPath: $t") }
      }
      // compact line: ADAPTIVE value width — ~4 significant chars per
      // value (2 decimals under 10 s, 1 decimal under 100 s, whole
      // seconds above) keeps per-query data in the ~2000-char capture
      // window with 20+ queries of headroom (BenchContractSpec models the
      // worst case; BENCH_FULL.json keeps full names + 3 decimals)
      def rc(v: Double): String =
        if (v < 0) "-1"
        else if (v < 10) BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
        else if (v < 100) BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
        else math.round(v).toString
      val shortQs = results.map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + rc(v) }
        .mkString("{", ",", "}")
      val perQueryLine =
        s"""{"metric":"total","value":${r3(total)},"unit":"sec"$partialJson$singleRunJson,"queries":$shortQs$vsIdle$bandViolJson$gwViolJson,"env":${fp.json},"sf":"$sfDir"}"""
      // if the pack ever grows the per-query line past the window, fall
      // back to per-FAMILY subtotals (q/d/s/t/m/p — constant width at any
      // pack size); the per-query detail is always in BENCH_FULL.json
      val famLine =
        s"""{"metric":"total","value":${r3(total)},"unit":"sec"$partialJson$singleRunJson,"families":${famJson(results)},"n_queries":${results.size}$vsIdle$bandViolJson$gwViolJson,"env":${fp.json},"full":"$fullName","sf":"$sfDir"}"""
      println(if (perQueryLine.length <= 1700) perQueryLine else famLine)
      Console.out.flush()
    }
    // SIGTERM (the driver's timeout kill) runs JVM shutdown hooks:
    // whatever completed becomes the round's artifact instead of
    // rc=124/parsed:null. Pure string work — no Spark calls, safe
    // while executors are dying.
    val hook = new Thread(() => emitFinal(), "graft-bench-emit")
    Runtime.getRuntime.addShutdownHook(hook)

    queryList.zipWithIndex.foreach { case ((name, fn), i) =>
      if (!emittedFinal.get) {
        val overBudget = budget.exists(b => elapsedSec > b)
        if (overBudget && singleRunFrom.isEmpty) {
          singleRunFrom = Some(name)
          System.err.println(
            s"BENCH BUDGET EXCEEDED at ${r3(elapsedSec)} s — " +
              s"single-run mode from $name")
        }
        val best =
          if (overBudget) {
            // budget regime: one run, charged under its real name (it
            // is the only plan execution, so the census stays per-plan)
            gwCurrent = name
            val t = timeOnce(name, fn)
            org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
            t
          } else {
            // census attribution: the warmup run lands under "_warmup" so
            // the emitted global_windows values are PER-PLAN counts, not
            // occurrences-across-2-runs (the committed census used to show
            // 2 for every single-window query). Both runs execute the same
            // plan, so a violation is still caught — under its real name,
            // from the timed run.
            gwCurrent = "_warmup"
            val warm = timeOnce(name, fn)
            // drain the async listener bus BEFORE moving gwCurrent — without
            // this, a lagging event from one run's last action lands while
            // the next runs and the census charges the wrong site
            // (observed: t22's whitelisted window attributed to t23)
            org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
            val timed = (1 until benchRuns).map { j =>
              // census attribution: only the LAST timed run charges the query
              // name, so global_windows stays a PER-PLAN count at any
              // benchRuns (the anchor run showed 3x counts when all three
              // timed runs charged the name)
              gwCurrent = if (j == benchRuns - 1) name else "_warmup"
              val t = timeOnce(name, fn)
              org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
              t
            }
            // 2 runs: best-of (warmup counts — the historical contract);
            // 3+: lower MEDIAN of the post-warmup runs (robust to one
            // ambient spike, deterministic on even counts)
            if (benchRuns == 2) math.min(warm, timed.head)
            else if (timed.exists(_ < 0)) -1.0
            else timed.sorted.apply((timed.size - 1) / 2)
          }
        completed.synchronized { completed += name -> best }
        // partial cadence: family boundaries AND a 30 s heartbeat — the
        // d-family alone is ~38 queries, and a kill landing mid-family
        // would otherwise find a stdout tail with no parseable line
        // (the shutdown hook's println can die with the launcher's
        // pipe; its BENCH_FULL write is the only post-SIGTERM artifact
        // guaranteed to land)
        val lastOfFamily =
          i == queryList.size - 1 || famOf(queryList(i + 1)._1) != famOf(name)
        if ((lastOfFamily || elapsedSec - lastPartialAt > 30.0) &&
          !emittedFinal.get) {
          lastPartialAt = elapsedSec
          emitPartial()
        }
      }
    }
    emitFinal()
    // throws IllegalStateException if a shutdown is ALREADY in progress
    // (SIGTERM landing exactly at normal completion) — the CAS in
    // emitFinal already made the hook a no-op, so just swallow
    try Runtime.getRuntime.removeShutdownHook(hook)
    catch { case _: IllegalStateException => () }
    spark.stop()
  }
}
