package graft

import java.nio.file.Files

import graft.fixtures.BlockFixtures

/** CLI smoke (the reference's daemon surface, main.rs:85-131): both
  * pipeline modes run end-to-end through the mode dispatch, and the
  * backfill → transactions resume path picks up the recorded cut. */
class MainSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-main").toString

  test("actions and transactions modes run end-to-end via the CLI dispatch") {
    import graft.schema.Blocks.encoder
    val in = tmp(); val out = tmp()
    spark.createDataset(BlockFixtures.blocks(6))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)

    Main.run(Array("actions", in, out), spark)
    assert(spark.read.parquet(s"$out/actions").count() > 0)
    assert(spark.read.parquet(s"$out/events").count() > 0)

    Main.run(Array("transactions", in, out), spark)
    assert(spark.read.parquet(s"$out/transactions").count() > 0)
    assert(spark.read.parquet(s"$out/blocks").count() === 6)
  }

  test("backfill mode records a cut that a transactions run resumes from") {
    import graft.schema.Blocks.encoder
    val in = tmp(); val out = tmp()
    spark.createDataset(BlockFixtures.blocks(8))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)

    Main.run(Array("backfill", in, out), spark)
    val cut = graft.stream.BlockStream.backfillCut(spark, out)
    assert(cut.nonEmpty)

    // transactions mode auto-resumes from the recorded cut and completes
    // the pending frontier as new blocks arrive
    spark.createDataset(BlockFixtures.blocks(12).drop(8))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)
    Main.run(Array("transactions", in, out), spark)
    val n = spark.read.parquet(s"$out/transactions").count()
    assert(n > 0)
  }

  test("--skip-commit runs the full pipeline but writes nothing") {
    import graft.schema.Blocks.encoder
    val in = tmp(); val out = tmp()
    spark.createDataset(BlockFixtures.blocks(6))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)
    val listener = graft.stream.ProgressListener.attach(spark)
    try {
      Main.run(Array("actions", in, out, "--skip-commit"), spark)
      Main.run(Array("transactions", in, out, "--skip-commit"), spark)
      // the pipelines really executed: progress events carried real rows
      assert(listener.batches.get() > 0)
      assert(listener.totalInputRows.get() > 0)
      // ...and the output dir is untouched — no tables, no quarantine,
      // no checkpoints (dry runs checkpoint to an ephemeral temp dir so
      // they can never advance a live run's source offsets)
      assert(Option(new java.io.File(out).list()).getOrElse(Array.empty[String]).isEmpty)
      // a subsequent live run over the same input sees virgin state and
      // writes everything
      Main.run(Array("actions", in, out), spark)
      assert(spark.read.parquet(s"$out/actions").count() > 0)
    } finally spark.streams.removeListener(listener)
  }

  test("awaitAll surfaces an already-dead query's exception while another stays active") {
    import org.apache.spark.sql.functions.{col, udf}
    // healthy unbounded query: rate source, never terminates on its own
    val healthy = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
      .writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    // failing query: dies on its first non-empty batch
    val boom = udf((v: Long) => {
      throw new RuntimeException("graft-awaitall-boom"); v: Long
    })
    val failing = spark.readStream.format("rate")
      .option("rowsPerSecond", "100").load()
      .select(boom(col("value")))
      .writeStream.format("noop").start()
    try {
      // let the failing query DIE before awaitAll ever sees it — the
      // round-12 regression: `if (q.isActive) awaitTermination(500)`
      // skips a dead query, and with a healthy unbounded sibling the
      // post-loop exception check is unreachable, so the daemon runs on
      // half-frozen forever. The fix polls dead queries' exceptions
      // every cycle; this must throw within a poll cycle, not hang.
      try failing.awaitTermination() catch { case _: Throwable => () }
      assert(!failing.isActive && healthy.isActive)
      val t0 = System.nanoTime()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Main.awaitAll(healthy, failing)
      }
      assert((System.nanoTime() - t0) / 1e9 < 30,
        "dead query's exception must surface within a poll cycle")
    } finally healthy.stop()
  }

  test("unknown mode raises a usage error") {
    intercept[IllegalArgumentException] {
      Main.run(Array("nonsense", "/tmp/a", "/tmp/b"), spark)
    }
  }

  test("unknown flags raise a usage error; the specs' flag sets still parse") {
    // a removed or typo'd flag must not silently start a different
    // daemon: --no-tws is gone, --folow would drain and exit
    Seq(Seq("--no-tws"), Seq("--folow"), Seq("--native", "--from")).foreach { fs =>
      val e = intercept[IllegalArgumentException] {
        Main.run(Array("transactions", "/tmp/a", "/tmp/b") ++ fs, spark)
      }
      assert(e.getMessage.contains(fs.last))
    }
    // every flag set the CLI specs drive gets past flag parsing: with an
    // unknown mode it is the dispatch, not the parser, that raises
    Seq(Seq(), Seq("--skip-commit"), Seq("--native"),
      Seq("--follow", "--from", "7", "--native")).foreach { fs =>
      val e = intercept[IllegalArgumentException] {
        Main.run(Array("nonsense", "/tmp/a", "/tmp/b") ++ fs, spark)
      }
      assert(e.getMessage === "unknown mode: nonsense")
    }
  }
}
