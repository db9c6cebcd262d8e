package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.stream.{BlockStream, ProgressListener}

/** Operational entry point — the runnable daemon the reference ships
  * (/root/reference/src/main.rs:85-131: mode dispatch, graceful drain on
  * signal, progress logging).
  *
  * {{{
  * graft.Main actions      <blocksJsonDir> <outDir> [--follow]
  * graft.Main transactions <blocksJsonDir> <outDir> [--follow] [--from H]
  * graft.Main backfill     <blocksJsonDir> <outDir>
  * }}}
  *
  *  - `actions`: blocks → actions/events/data tables (P1–P16).
  *  - `transactions`: blocks → transactions/account_txs/receipt_txs/
  *    block_txs + blocks tables (J1–J10, A2/A3).
  *  - `backfill`: batch path for a large on-disk corpus — distributed
  *    label-propagation correlator, then records the replay cut; a
  *    subsequent `transactions` run resumes the streaming correlator from
  *    that height automatically (or pass `--from` explicitly).
  *
  * Default trigger is AvailableNow: drain the backlog, flush, exit (K4 —
  * the reference's final-flush semantics). `--follow` tails the input
  * directory on a ProcessingTime trigger until SIGTERM/SIGINT; the
  * shutdown hook stops queries at a micro-batch boundary, and the
  * checkpoint + idempotent sinks make restart safe (S3/S4).
  */
object Main {

  private val usage =
    """usage:
      |  graft.Main actions      <blocksJsonDir> <outDir> [--follow] [--native] [--skip-commit]
      |  graft.Main transactions <blocksJsonDir> <outDir> [--follow] [--from HEIGHT] [--native] [--skip-commit]
      |  graft.Main backfill     <blocksJsonDir> <outDir>
      |
      |--native reads through the height-offset block source (expects a
      |<height>.json document corpus / neardata endpoint) instead of the
      |generic file stream.
      |--skip-commit runs the FULL pipeline but commits nothing (the
      |reference's skip-commit smoke mode): every transform executes and
      |progress logs fire, no table/quarantine file is written, and the
      |stream checkpoint goes to an ephemeral temp dir so a dry run can
      |never advance the offsets a later real run resumes from.""".stripMargin

  private val flags = Set("--follow", "--native", "--skip-commit")

  /** The flags after `<mode> <in> <out>`, and the `--from` height. Any
    * other argument is a usage error: a typo'd flag must not silently
    * run a different daemon (`--folow` would drain and exit). */
  private def parseFlags(
      rest: List[String], seen: Set[String] = Set.empty,
      from: Option[Long] = None): (Set[String], Option[Long]) =
    rest match {
      case Nil => (seen, from)
      case "--from" :: h :: tail => parseFlags(tail, seen, Some(h.toLong))
      case "--from" :: Nil =>
        throw new IllegalArgumentException("--from needs a height")
      case f :: tail if flags(f) => parseFlags(tail, seen + f, from)
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
    }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) { System.err.println(usage); sys.exit(2) }
    val spark = buildSession(args(0))
    try {
      ProgressListener.attach(spark)
      sys.addShutdownHook { // graceful drain: stop at batch boundary.
        // liveQueries, not spark.streams.active: the transactions
        // pipeline runs on a CLONED session (ProductionStateConf), so
        // this session's manager doesn't see its query
        liveQueries.forEach(_.stop())
      }
      run(args, spark)
    } catch {
      case e: IllegalArgumentException =>
        System.err.println(s"${e.getMessage}\n$usage"); sys.exit(2)
    } finally spark.stop()
  }

  /** Mode dispatch on a caller-owned session (separated from the session
    * lifecycle so the smoke spec can drive the CLI end-to-end). */
  private[graft] def run(args: Array[String], spark: SparkSession): Unit = {
    val Array(mode, inDir, outDir) = args.take(3)
    val (present, explicitFrom) = parseFlags(args.drop(3).toList)
    val trigger: Trigger =
      if (present("--follow")) Trigger.ProcessingTime("2 seconds")
      else Trigger.AvailableNow()
    val native = present("--native")
    val skipCommit = present("--skip-commit")
    // dry runs checkpoint to a throwaway dir: reusing the real
    // checkpoint would record source offsets for blocks whose output
    // was never committed — a later live run would silently skip them.
    // Deleted on JVM exit (repeated smoke runs must not accumulate
    // state-store litter under /tmp).
    def checkpoint(name: String): String =
      if (skipCommit) {
        val d = java.nio.file.Files.createTempDirectory(s"graft-dryrun-$name")
        sys.addShutdownHook(graft.util.Fs.deleteRecursively(d))
        d.toString
      } else s"$outDir/_checkpoints/$name"

    mode match {
      case "actions" =>
        awaitAll(
          BlockStream.runActionsPipeline(
            spark, inDir, outDir, checkpoint("actions"), trigger,
            nativeSource = native, skipCommit = skipCommit))
      case "transactions" =>
        val start = explicitFrom
          .orElse(BlockStream.backfillCut(spark, outDir))
          .getOrElse(Long.MinValue)
        awaitAll(
          BlockStream.runBlocksPipeline(
            spark, inDir, outDir, checkpoint("blocks"), trigger,
            nativeSource = native, skipCommit = skipCommit),
          BlockStream.runTransactionsPipeline(
            spark, inDir, outDir, checkpoint("transactions"),
            trigger, startHeight = start, nativeSource = native,
            skipCommit = skipCommit))
      case "backfill" =>
        val cut = BlockStream.runBackfill(spark, inDir, outDir)
        println(s"[graft] backfill done; replay cut = $cut")
      case other =>
        throw new IllegalArgumentException(s"unknown mode: $other")
    }
  }

  /** Queries currently owned by this process — the shutdown hook's
    * stop set. A session-manager walk can't serve that role anymore:
    * pipelines may start their query on a cloned session (the
    * transactions pipeline's state conf), invisible to `spark.streams`
    * of the session main() built. */
  private val liveQueries =
    new java.util.concurrent.CopyOnWriteArrayList[StreamingQuery]()

  /** Await every query, surfacing the FIRST failure from any of them —
    * sequential unbounded awaitTermination would sit blocked on a
    * healthy query while another one has already died (a --follow
    * daemon that keeps "running" with half its tables frozen). The
    * queries may live on DIFFERENT sessions (see [[liveQueries]]), so
    * this polls each query with a bounded wait instead of leaning on
    * one session's awaitAnyTermination — which would block forever on
    * the healthy manager while the other session's query lies dead. */
  private[graft] def awaitAll(qs: StreamingQuery*): Unit = {
    if (qs.isEmpty) return
    qs.foreach(liveQueries.add)
    try {
      while (qs.exists(_.isActive))
        // throws the query's own StreamingQueryException on failure;
        // returns false on timeout, rotating the poll through all. A
        // query that already DIED is not skipped silently: its stored
        // exception is surfaced on this very cycle — otherwise a
        // --follow daemon with one healthy unbounded query would never
        // reach the post-loop check and run on half-frozen forever
        // (the failure only threw from awaitTermination if it landed
        // inside that query's own 500 ms poll window).
        qs.foreach(q =>
          if (q.isActive) q.awaitTermination(500)
          else q.exception.foreach(e => throw e))
      qs.foreach(q => q.exception.foreach(e => throw e))
    } finally qs.foreach(liveQueries.remove)
  }

  private def buildSession(mode: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")
    val shuffle = if (cpus == "*") "32" else cpus
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(s"graft-$mode")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shuffle)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.query.Tables.configure(spark)
    spark
  }
}
