package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.fixtures.BlockFixtures
import graft.stream.{BlockStream, BlocksMicroBatchStream, DirBlockFetcher, HeightOffset,
  HeightRangePartition}

/** Native height-offset block source (S1-native: the reference's
  * parallel fetcher + bounded channel as a DataSourceV2
  * MicroBatchStream). */
class BlocksSourceSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-src").toString

  /** Write fixture blocks as `<height>.json` documents (the fetcher
    * corpus layout), skipping `skip`. */
  private def writeDocs(dir: String, n: Int, skip: Set[Long] = Set()): Seq[Long] = {
    import graft.schema.Blocks.encoder
    val blocks = BlockFixtures.blocks(n)
    val df = spark.createDataset(blocks)(encoder).toDF()
    val heights = blocks.map(_.block.header.height)
    val docs = df.toJSON.collect()
    heights.zip(docs).filterNot { case (h, _) => skip(h) }.foreach {
      case (h, doc) =>
        Files.writeString(Paths.get(dir, s"$h.json"), doc)
    }
    heights
  }

  test("height offsets, admission control, skipped heights, resume") {
    val in = tmp(); val cp = tmp()
    val heights = writeDocs(in, 12, skip = Set(105L))
    val batches = new AtomicInteger(0)
    val seen = collection.mutable.Set.empty[Long]

    def drain(): Unit = {
      val q = BlockStream.readBlockSource(
        spark, in, maxBlocksPerTrigger = 4, startHeight = heights.min)
        .writeStream
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batches.incrementAndGet()
          seen ++= b.select("block.header.height").collect().map(_.getLong(0))
          ()
        }
        .start()
      q.awaitTermination()
    }

    drain()
    // every non-skipped height arrived exactly once, nothing invented
    assert(seen.toSet === heights.toSet - 105L)
    // admission control: 12 heights / 4 per trigger -> >= 3 micro-batches
    assert(batches.get() >= 3, s"batches=${batches.get()}")

    // resume: checkpointed height cursor picks up only NEW heights
    val before = seen.size
    val more = BlockFixtures.blocks(15).drop(12)
    import graft.schema.Blocks.encoder
    val df2 = spark.createDataset(more)(encoder).toDF()
    more.map(_.block.header.height).zip(df2.toJSON.collect()).foreach {
      case (h, doc) => Files.writeString(Paths.get(in, s"$h.json"), doc)
    }
    drain()
    assert(seen.size === before + 3)
    assert(seen.toSet === BlockFixtures.blocks(15)
      .map(_.block.header.height).toSet - 105L)
  }

  test("source-fed extraction equals the batch extract") {
    val in = tmp(); val cp = tmp(); val out = tmp()
    writeDocs(in, 10)
    val q = BlockStream.readBlockSource(spark, in, maxBlocksPerTrigger = 3)
      .writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val good = b.where(col("_corrupt_record").isNull && col("block").isNotNull)
          .drop("_corrupt_record")
        graft.etl.ActionsExtract.actions(
          graft.etl.ActionsExtract.indexedReceipts(good))
          .write.mode("append").parquet(s"$out/actions")
        ()
      }
      .start()
    q.awaitTermination()
    val batch = graft.etl.ActionsExtract.actions(
      graft.etl.ActionsExtract.indexedReceipts(BlockFixtures.df(spark, 10)))
    assert(spark.read.parquet(s"$out/actions").count() === batch.count())
  }

  test("actions pipeline over the native source via the CLI (--native)") {
    val in = tmp(); val out = tmp()
    writeDocs(in, 8)
    Main.run(Array("actions", in, out, "--native"), spark)
    val batch = graft.etl.ActionsExtract.actions(
      graft.etl.ActionsExtract.indexedReceipts(BlockFixtures.df(spark, 8)))
    assert(spark.read.parquet(s"$out/actions").count() === batch.count())
  }

  test("corrupt documents from the native source land in quarantine") {
    val in = tmp(); val out = tmp()
    writeDocs(in, 4)
    // a syntactically-broken doc at a valid height
    Files.writeString(Paths.get(in, "200.json"), "{not json")
    Main.run(Array("actions", in, out, "--native"), spark)
    val batch = graft.etl.ActionsExtract.actions(
      graft.etl.ActionsExtract.indexedReceipts(BlockFixtures.df(spark, 4)))
    assert(spark.read.parquet(s"$out/actions").count() === batch.count())
    val quarantined = spark.read.json(s"$out/_quarantine")
    assert(quarantined.where(col("raw").contains("not json")).count() === 1)
  }

  test("a batch splits into at most one contiguous range per task slot") {
    val slots = spark.sparkContext.defaultParallelism
    assert(slots === 4, "test precondition: local[4]")
    val stream = new BlocksMicroBatchStream(java.util.Map.of("path", tmp()))
    val lo = 100L
    for (n <- Seq(1L, 3L, 9L, 12L, 1000L)) {
      val hi = lo + n - 1
      val parts = stream.planInputPartitions(HeightOffset(lo - 1), HeightOffset(hi))
        .map(_.asInstanceOf[HeightRangePartition]).toSeq
      assert(parts.size === Seq(8L, slots.toLong, n).min, s"n=$n: $parts")
      assert(parts.forall(p => p.from <= p.to), s"n=$n: empty range in $parts")
      // contiguous cover of [lo, hi]: no gap, no overlap
      assert(parts.head.from === lo && parts.last.to === hi, s"n=$n: $parts")
      parts.zip(parts.tail).foreach { case (a, b) =>
        assert(b.from === a.to + 1, s"n=$n: $parts")
      }
    }
  }

  test("dir fetcher: head height and skipped fetches") {
    val in = tmp()
    writeDocs(in, 5, skip = Set(102L))
    val f = new DirBlockFetcher(in)
    assert(f.headHeight() === BlockFixtures.blocks(5).last.block.header.height)
    assert(f.fetch(102L).isEmpty)
    assert(f.fetch(100L).nonEmpty)
    assert(new DirBlockFetcher(tmp()).headHeight() === -1L)
  }
}
