package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.Gen
import graft.etl.TxCorrelator
import graft.etl.TxCorrelator._
import graft.fixtures.BlockFixtures
import graft.schema._

/** `transformWithState` correlator (SURVEY §2.4/§7.4 first choice):
  * equivalence with the pure fold on the fixture chain and on random
  * receipt DAGs, cross-batch state persistence, lenient restart
  * replay, and per-entry state TTL.
  * transformWithState requires the RocksDB state store provider —
  * scoped to each query here, reset after. */
class TwsCorrelatorSpec extends SparkSpec {

  import PropertySampling.forAllSeeded

  private val rocksdb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** Run blocks through correlateStreamTws in the given micro-batch
    * groups; returns completed tx hashes in emission order. */
  private def runTws(
      batches: Seq[Seq[BlockWithTxHashes]], name: String,
      strict: Boolean = false,
      ttl: Option[java.time.Duration] = None,
      sleepBetweenMs: Long = 0L): Seq[String] = {
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocksdb)
    try {
      val stream = MemoryStream[BlockWithTxHashes](Blocks.encoder, spark)
      val q = TxCorrelator
        .correlateStreamTws(stream.toDS(), strict = strict, stateTtl = ttl)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        batches.zipWithIndex.foreach { case (b, i) =>
          if (i > 0 && sleepBetweenMs > 0) Thread.sleep(sleepBetweenMs)
          stream.addData(b)
          q.processAllAvailable()
        }
      } finally q.stop()
      spark.table(name).collect().map(_.getAs[org.apache.spark.sql.Row](
        "transaction").getAs[String]("hash")).toSeq
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  private def pureFold(blocks: Seq[BlockWithTxHashes]): Seq[String] =
    blocks.foldLeft((emptyState, Seq.empty[String])) {
      case ((st, acc), b) =>
        val (s, c) = processBlock(st, b, strict = false)
        (s, acc ++ c.map(_.transaction.hash))
    }._2

  test("tws correlator matches the pure fold across micro-batch " +
    "boundaries (fixture chain)") {
    val blocks = BlockFixtures.blocks(6)
    // split mid-DAG: pending receipts must survive the state store
    val batches = Seq(blocks.take(2), blocks.slice(2, 5), blocks.drop(5))
    val tws = runTws(batches, "tws_fixture")

    assert(tws.nonEmpty)
    assert(tws.sorted === pureFold(BlockFixtures.blocks(6)).sorted)
  }

  test("tws correlator matches the pure fold on random receipt DAGs " +
    "split across micro-batches") {
    var round = 0
    forAllSeeded(Gen.listOfN(6, CorrelatorDagGen.genTxPlan), n = 3) { mks =>
      val plans = mks.zipWithIndex.map { case (mk, i) => mk(i) }
      val blocks = CorrelatorDagGen.mkBlocks(plans)
      val cut = math.max(1, blocks.size / 2)
      round += 1
      val tws = runTws(
        Seq(blocks.take(cut), blocks.drop(cut)), s"tws_dag_$round")
      assert(tws.sorted === pureFold(blocks).sorted)
      assert(tws.toSet === plans.map(_.txHash).toSet) // every tx completes
    }
  }

  test("lenient restart replay: fresh checkpoint, full feed, catch-up " +
    "tolerance — same completed set (the reference's restart path)") {
    forAllSeeded(Gen.listOfN(5, CorrelatorDagGen.genTxPlan), n = 2) { mks =>
      val plans = mks.zipWithIndex.map { case (mk, i) => mk(i) }
      val blocks = CorrelatorDagGen.mkBlocks(plans)
      // the reference restarts with an EMPTY TxCache and replays from
      // the chain tip backlog leniently (J8); streamed from a fresh
      // checkpoint in strict=false mode the full feed must complete
      // every tx exactly once, mid-stream noise skipped not thrown
      val replayed = runTws(
        Seq(blocks, Seq.empty), "tws_replay", strict = false)
      assert(replayed.sorted === pureFold(blocks).sorted)
    }
  }

  test("state TTL expires individual stuck entries: a receipt resolving " +
    "after the TTL is skipped (lenient), the tx never completes") {
    // block 100 registers tx100 with rB100 pending until block 101.
    // With a 600 ms TTL and ~2 s between the two micro-batches, the
    // receipt_to_tx/transactions entries age out before block 101
    // arrives: its outcomes are skipped (J8 shape) and tx100 must NOT
    // complete. Same-block-completing txs in 101 are unaffected.
    //
    val b100 = BlockFixtures.block(100, 2)
    val b101 = BlockFixtures.block(101, 2)

    val withTtl = runTws(
      Seq(Seq(b100), Seq(b101)), "tws_ttl",
      ttl = Some(java.time.Duration.ofMillis(600)), sleepBetweenMs = 2000)
    assert(!withTtl.contains("tx100"),
      s"tx100 should have expired, got $withTtl")

    // control: same split, no TTL — tx100 completes at 101
    val noTtl = runTws(Seq(Seq(b100), Seq(b101)), "tws_nottl")
    assert(noTtl.contains("tx100"))
  }

  test("pack vehicle (correlateBatchTws) runs the PRODUCTION state conf: " +
    "1 state partition on the wire, caller session untouched") {
    // Round-12 verdict: the p4–p7/p11 vehicles benched with 32 state
    // stores × full-snapshot checkpointing — ~4× the fsyncs the
    // production wire pays — so their times tracked host fsync latency
    // (p4 1.8 s idle vs 10–22 s degraded). correlateBatchTws now
    // applies TxCorrelator.ProductionStateConf around query start;
    // pin BOTH directions: the stream saw 1 partition (default would
    // be the session's shuffle width), and the caller's session conf
    // is restored (set-and-restore, not a leak).
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(before !== "1", "test precondition: session must not already be at 1")
    var progress: Option[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      None
    val out = TxCorrelator.correlateBatchTws(
      spark, BlockFixtures.blocks(8),
      inspect = q => progress = Option(q.lastProgress))
    assert(out.count() > 0) // the vehicle still correlates
    val so = progress.getOrElse(fail("no progress captured")).stateOperators
    assert(so.nonEmpty, "expected a stateful operator in the progress")
    assert(so.head.numShufflePartitions === 1L,
      s"production conf did not reach the wire: ${so.head.numShufflePartitions}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before,
      "ProductionStateConf leaked into the caller's session")
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      .isEmpty, "changelog conf leaked into the caller's session")
  }

  test("pack vehicle (correlateBatchTws) deletes its checkpoint dir when " +
    "the query fails to start or fails while running") {
    val ckRoot = java.nio.file.Paths.get(
      spark.sparkContext.getConf.getOption("spark.local.dir")
        .map(_.split(",")(0))
        .getOrElse(System.getProperty("java.io.tmpdir")))
    def ckDirs(): Set[String] =
      if (!java.nio.file.Files.isDirectory(ckRoot)) Set.empty
      else {
        val s = java.nio.file.Files.list(ckRoot)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("graft-tws-ck")).toSet
        } finally s.close()
      }
    val before = ckDirs()
    // fails inside the run, after start(): the inspect hook throws
    intercept[IllegalStateException] {
      TxCorrelator.correlateBatchTws(spark, BlockFixtures.blocks(2),
        inspect = _ => throw new IllegalStateException("injected"))
    }
    assert(ckDirs() === before, "run failure leaked a checkpoint dir")
    // fails inside start(): the checkpoint file manager cannot load
    val fmKey = "spark.sql.streaming.checkpointFileManagerClass"
    spark.conf.set(fmKey, "graft.NoSuchCheckpointFileManager")
    try intercept[Exception] {
      TxCorrelator.correlateBatchTws(spark, BlockFixtures.blocks(2))
    } finally spark.conf.unset(fmKey)
    assert(ckDirs() === before, "start failure leaked a checkpoint dir")
  }
}
