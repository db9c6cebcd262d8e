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

  test("streaming exact dedup drops in-horizon duplicates, keeps state bounded") {
    val dir = "/root/testdata/sf0.001"
    // duplicate the corpus with distinct doc_ids but identical text,
    // all timestamps inside one watermark horizon -> every dup dropped
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = docs.withColumn("event_time",
      timestamp_micros(lit(1704067200000000L) + col("doc_id") * 1000000L))
    val dups = base.withColumn("doc_id", col("doc_id") + 1000000L)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-sdedup")
    base.unionByName(dups).coalesce(1)
      .write.mode("overwrite").parquet(streamDir.toString)

    val schema = spark.read.parquet(streamDir.toString).schema
    val q = graft.ext.Dedup.streamingExactDedup(
      spark.readStream.schema(schema).parquet(streamDir.toString),
      "text", "event_time")
      .writeStream.outputMode("append").format("memory")
      .queryName("sdedup_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.table("sdedup_out")
    val distinctTexts = docs.select("text").distinct().count()
    assert(out.count() === distinctTexts)
    assert(out.select("content_hash").distinct().count() === distinctTexts)
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

  test("streaming IVF ingestion: micro-batch appends under frozen " +
    "centroids equal the one-shot append; batch retry is idempotent") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val seed = emb.where(col("vec_id") % 2 === 0)
    val arriving = emb.where(col("vec_id") % 2 === 1)
    val idx = graft.ext.Similarity.ivfBuild(
      seed, "vec_id", "embedding", dim = Some(64))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfstream")
    graft.ext.Similarity.ivfIndexWrite(idx, dir.toString)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ivfsrc")
    arriving.repartition(3).write.mode("overwrite").parquet(streamDir.toString)
    val schema = spark.read.parquet(streamDir.toString).schema
    val q = graft.ext.Similarity.ivfIndexIngestStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir.toString),
      "vec_id", "embedding", dir.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def cells(d: String): Set[(Long, Int)] =
      spark.read.parquet(graft.util.Manifest.tablePath(d, "assigned"))
        .select(col("id").cast("long"), col("c"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // streamed ingestion == the one-shot batch append
    val oneDir = java.nio.file.Files.createTempDirectory("graft-ivfoneshot")
    graft.ext.Similarity.ivfIndexWrite(idx, oneDir.toString)
    graft.ext.Similarity.ivfIndexAppendIdempotent(
      spark, oneDir.toString, arriving, "vec_id", "embedding")
    assert(cells(dir.toString) === cells(oneDir.toString))
    // a re-delivered batch appends NOTHING (the foreachBatch retry)
    val before = cells(dir.toString)
    graft.ext.Similarity.ivfIndexAppendIdempotent(
      spark, dir.toString, arriving.limit(20), "vec_id", "embedding")
    assert(cells(dir.toString) === before)
    graft.util.Fs.deleteRecursively(dir)
    graft.util.Fs.deleteRecursively(oneDir)
    graft.util.Fs.deleteRecursively(streamDir)
    graft.ext.Caches.release()
  }

  test("streaming IVF-PQ ingestion: micro-batch residual-encodes under " +
    "frozen centroids + codebooks equal the one-shot append; retry " +
    "is idempotent") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val seed = emb.where(col("vec_id") % 2 === 0)
    val arriving = emb.where(col("vec_id") % 2 === 1)
    val idx = graft.ext.Similarity.ivfPqBuild(
      seed, "vec_id", "embedding", dim = Some(64))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpqstream")
    graft.ext.Similarity.ivfPqIndexWrite(idx, dir.toString)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ivfpqsrc")
    arriving.repartition(3).write.mode("overwrite").parquet(streamDir.toString)
    val schema = spark.read.parquet(streamDir.toString).schema
    val q = graft.ext.Similarity.ivfPqIndexIngestStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir.toString),
      "vec_id", "embedding", dir.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def codes(d: String): Map[Long, (Int, Seq[Int])] =
      graft.ext.Similarity.ivfPqIndexRead(spark, d).encoded
        .select(col("id").cast("long"), col("c"), col("codes"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2)))).toMap
    val oneDir = java.nio.file.Files.createTempDirectory("graft-ivfpqone")
    graft.ext.Similarity.ivfPqIndexWrite(idx, oneDir.toString)
    graft.ext.Similarity.ivfPqIndexAppendIdempotent(
      spark, oneDir.toString, arriving, "vec_id", "embedding")
    assert(codes(dir.toString) === codes(oneDir.toString))
    // a re-delivered batch appends NOTHING to either table
    val before = codes(dir.toString)
    graft.ext.Similarity.ivfPqIndexAppendIdempotent(
      spark, dir.toString, arriving.limit(20), "vec_id", "embedding")
    assert(codes(dir.toString) === before)
    assert(graft.ext.Similarity.ivfPqIndexRead(spark, dir.toString)
      .base.count() === before.size.toLong)
    graft.util.Fs.deleteRecursively(dir)
    graft.util.Fs.deleteRecursively(oneDir)
    graft.util.Fs.deleteRecursively(streamDir)
    graft.ext.Caches.release()
  }

  test("streaming minhash ingestion: micro-batch appends equal the " +
    "one-shot append in membership and probe results; retry is " +
    "idempotent") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val seed = docs.where(col("doc_id") % 2 === 0)
    val arriving = docs.where(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-mhstream")
    val oneDir = java.nio.file.Files.createTempDirectory("graft-mhone")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-mhsrc")
    try {
      graft.ext.Dedup.minhashIndexWrite(
        seed, "doc_id", "text", dir.toString)
      arriving.repartition(3).write.mode("overwrite")
        .parquet(streamDir.toString)
      val schema = spark.read.parquet(streamDir.toString).schema
      val q = graft.ext.Dedup.minhashIndexIngestStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(streamDir.toString),
        "doc_id", "text", dir.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.ext.Dedup.minhashIndexWrite(
        seed, "doc_id", "text", oneDir.toString)
      graft.ext.Dedup.minhashIndexAppend(
        arriving, "doc_id", "text", oneDir.toString)
      // membership per table (stored bucket_n differs by append
      // batching — the probe's per-bucket-max cap makes that
      // invisible, which the probe comparison below pins)
      def members(d: String, t: String): Set[Long] =
        spark.read.parquet(graft.util.Manifest.tablePath(d, t))
          .select(col("id").cast("long"))
          .collect().map(_.getLong(0)).toSet
      for (t <- Seq("postings", "sizes", "buckets"))
        assert(members(dir.toString, t) === members(oneDir.toString, t), t)
      // and probes agree on a held-out query side (the planted dups)
      val qside = docs.where(col("doc_id") % 2 === 0).limit(50)
      def probe(d: String) = graft.ext.Dedup
        .minhashProbeIndex(
          qside.withColumn("doc_id", col("doc_id") + 1000000L),
          "doc_id", "text", d, threshold = 0.5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toMap
      val streamed = probe(dir.toString)
      assert(streamed.nonEmpty, "vacuous probe fixture")
      assert(streamed === probe(oneDir.toString))
      // a re-delivered batch appends nothing
      val before = members(dir.toString, "sizes").size
      graft.ext.Dedup.minhashIndexAppend(
        arriving.limit(20), "doc_id", "text", dir.toString)
      assert(members(dir.toString, "sizes").size === before)
    } finally {
      Seq(dir, oneDir, streamDir).foreach(graft.util.Fs.deleteRecursively)
    }
    graft.ext.Caches.release()
  }

  test("streaming sign-band ingestion: the signature is a pure " +
    "projection, so streamed micro-batch appends equal the one-shot " +
    "append bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val seed = emb.where(col("vec_id") % 2 === 0)
    val arriving = emb.where(col("vec_id") % 2 === 1)
    val idx = graft.ext.Similarity.signBandIndexBuild(
      seed, "vec_id", "embedding", dim = 64)
    val dir = java.nio.file.Files.createTempDirectory("graft-sbstream")
    val oneDir = java.nio.file.Files.createTempDirectory("graft-sbone")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-sbsrc")
    try {
      graft.ext.Similarity.signBandIndexWrite(idx, dir.toString)
      arriving.repartition(3).write.mode("overwrite")
        .parquet(streamDir.toString)
      val schema = spark.read.parquet(streamDir.toString).schema
      val q = graft.ext.Similarity.signBandIndexIngestStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(streamDir.toString),
        "vec_id", "embedding", dir.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.ext.Similarity.signBandIndexWrite(idx, oneDir.toString)
      graft.ext.Similarity.signBandIndexAppend(
        spark, oneDir.toString, arriving, "vec_id", "embedding")
      def rows(d: String): Set[(Long, Int, Long, Long)] =
        graft.ext.Similarity.signBandIndexRead(spark, d).buckets
          .select(col("id").cast("long"), col("band").cast("int"),
            col("bucket").cast("long"), col("sig"))
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
          .toSet
      val streamed = rows(dir.toString)
      assert(streamed === rows(oneDir.toString))
      // retry appends nothing
      graft.ext.Similarity.signBandIndexAppend(
        spark, dir.toString, arriving.limit(20), "vec_id", "embedding")
      assert(rows(dir.toString) === streamed)
    } finally {
      Seq(dir, oneDir, streamDir).foreach(graft.util.Fs.deleteRecursively)
    }
    graft.ext.Caches.release()
  }

  test("streaming DSIR scoring: per-micro-batch scores under a " +
    "persisted model equal the batch scores") {
    // the train-once / score-stream wire: the B-row model computes on
    // the reference corpus once, then every arriving micro-batch joins
    // it broadcast — scores are a pure per-doc function of the model
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val model = graft.ext.TextAnalysis
      .dsirModel(docs, "text", col("lang") === "en")
      .persist()
    model.count()
    val streamDir = java.nio.file.Files.createTempDirectory("graft-sdsir")
    docs.select("doc_id", "text").repartition(3)
      .write.mode("overwrite").parquet(streamDir.toString)
    val schema = spark.read.parquet(streamDir.toString).schema
    val got = new scala.collection.concurrent.TrieMap[Long, (Long, Long)]
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ext.TextAnalysis.dsirScore(b, "doc_id", "text", model)
          .collect()
          .foreach(r => got.put(r.getLong(0), (r.getLong(1), r.getLong(2))))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batch = graft.ext.TextAnalysis
      .dsirScore(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    model.unpersist()
    assert(got.nonEmpty)
    assert(got.toMap === batch)
  }

  test("streaming histogram-quantile sketch: windowed bucket counts " +
    "equal the batch daily sketch, quantiles match q86") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-hist")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    // far-future sentinel row: pushes the final watermark past every
    // real 1-day window so append mode flushes them all (only the
    // sentinel's own window stays open; excluded from comparison below)
    spark.read.parquet(s"$dir/events.parquet")
      .orderBy("event_id").limit(1)
      .withColumn("ts", col("ts") + expr("INTERVAL 40 DAYS"))
      .write.mode("append").parquet(streamDir.toString)
    val src = graft.query.Tables.nanosView(
      spark.readStream.schema(schema).parquet(streamDir.toString))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val q = graft.query.EventOps
      .histogramSketchStream(src, "event_time", "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("hist_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("day"), r.getAs[String]("event_type"),
        r.getAs[Long]("bucket"), r.getAs[Long]("c"))).toSet
    val batchSketch = graft.query.Tables.load(spark, dir, "events")
      .selectExpr("event_type", "(ts div 1000) div 86400000000 AS day",
        s"CAST(round(value*100) AS BIGINT) div ${graft.query.EventOps.HistBucketCents} AS bucket")
      .groupBy("event_type", "day", "bucket")
      .agg(count(lit(1)).as("c"))
    val maxDay = batchSketch.agg(max("day")).head().getLong(0)
    val streamedSketch = spark.table("hist_out")
      .select(expr("unix_micros(window.start) div 86400000000").as("day"),
        col("event_type"), col("bucket"), col("c"))
      .where(col("day") <= maxDay) // drop the sentinel's window
    val streamed = rows(streamedSketch)
    assert(streamed.nonEmpty)
    assert(streamed === rows(batchSketch))
    // quantiles read off the STREAMED sketch equal the q86 batch query
    def quant(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("p50_upper_c"),
          r.getAs[Long]("p95_upper_c"))).toMap
    val fromStream = quant(
      graft.query.EventOps.histogramQuantiles(streamedSketch))
    val fromBatch = quant(
      SparkEntry.queries("q86_histogram_quantile_sketch")(spark, dir))
    assert(fromStream === fromBatch)
  }

  test("streaming CMS cells: merged windows equal the batch sketch, " +
    "estimates match q88's substrate") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-cms")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    // far-future sentinel flushes every real 1-day window (q86 idiom)
    spark.read.parquet(s"$dir/events.parquet")
      .orderBy("event_id").limit(1)
      .withColumn("ts", col("ts") + expr("INTERVAL 40 DAYS"))
      .write.mode("append").parquet(streamDir.toString)
    val src = graft.query.Tables.nanosView(
      spark.readStream.schema(schema).parquet(streamDir.toString))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val q = graft.query.EventOps
      .cmsCellStream(src, "event_time", "user_id", "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("cms_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ev = graft.query.Tables.load(spark, dir, "events")
      .selectExpr("user_id", "(ts div 1000) div 86400000000 AS day")
    val maxDay = ev.agg(max("day")).head().getLong(0)
    val streamedCells = spark.table("cms_out")
      .select(expr("unix_micros(window.start) div 86400000000").as("day"),
        col("j"), col("b"), col("c"), col("_depth"), col("_width"))
      .where(col("day") <= maxDay) // drop the sentinel's open-window day
    assert(streamedCells.count() > 0)
    def ests(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromStream = ests(graft.query.Stats.cmsEstimatesFromCells(
      streamedCells, ev.select("user_id").distinct(), "user_id"))
    val fromBatch = ests(graft.query.Stats.cmsEstimates(
      ev, "user_id", col("day")))
    assert(fromStream === fromBatch)
    // and the estimates are true frequency over-estimates
    val exact = ev.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((k, c) <- exact) assert(fromBatch(k) >= c, s"under-count at $k")
    // geometry guard: finalizing with a different width must refuse at
    // execution (the in-plan assert_true), not silently under-count
    val ex = intercept[Throwable] {
      graft.query.Stats.cmsEstimatesFromCells(
        streamedCells, ev.select("user_id").distinct(), "user_id",
        width = 512).collect()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("geometry mismatch"), msgs)
    graft.util.Fs.deleteRecursively(streamDir)
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

  test("inline blocklist filter is streaming-composable unchanged: " +
    "streamed survivors equal the batch filter") {
    // blocklistPred is a single stateless codegen'd arrays_overlap —
    // no join, no state — so the filter runs on a readStream corpus in
    // plain append mode with no code changes
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-blstr")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      streamDir.resolve("documents.parquet"))
    val phrases = Seq("spark", "table table", "fast sort")
    val streamed = graft.ext.TextAnalysis.blocklistFilterInline(
      spark.readStream.schema(schema).parquet(streamDir.toString),
      "text", phrases)
    val q = streamed.select("doc_id").writeStream.outputMode("append")
      .format("memory").queryName("blocklist_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fromStream = spark.table("blocklist_out")
      .collect().map(_.getLong(0)).toSet
    val fromBatch = graft.ext.TextAnalysis.blocklistFilterInline(
      spark.read.parquet(s"$dir/documents.parquet"), "text", phrases)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fromStream.nonEmpty)
    assert(fromStream === fromBatch)
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

  test("composed curation stream equals the batch stages under " +
    "out-of-order micro-batches (content-keyed survivors)") {
    import graft.ext.{Curation, Dedup, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // plant exact duplicates with DIFFERENT ids, and deliver them in
    // the FIRST file while the originals arrive in the second — the
    // stream's keep-first dedup then keeps the HIGH id where the batch
    // keep-best keeps the low one, and the content-keyed contract is
    // what makes the two pipelines agree anyway. Event times all
    // within one horizon so nothing is late-dropped, only reordered.
    val t0 = 1704067200000000L
    val base = docs.withColumn("event_time",
      timestamp_micros(lit(t0) + col("doc_id") * 1000000L))
    val dups = base.where(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("event_time", // dups carry EARLIER event times
        timestamp_micros(lit(t0 - 1000000L) + (col("doc_id") - 1000000L)))
    val streamDir = java.nio.file.Files.createTempDirectory("graft-cur")
    try {
    dups.coalesce(1).write.parquet(streamDir.resolve("f0").toString)
    base.coalesce(1).write.parquet(streamDir.resolve("f1").toString)
    val schema = spark.read.parquet(streamDir.resolve("f0").toString).schema

    val eval = docs.where(col("doc_id") < 10)
    val screen = Dedup.bloomScreenBuild(eval, "text")
    val blocklist = Seq("spark", "table table")
    val q = Curation.curationStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$streamDir/*"),
      "doc_id", "text", "event_time", screen, blocklist,
      nShards = 4, contamMaxE4 = 2000, delay = "2 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("curation_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("curation_out")
      .collect()
      .map(r => r.getAs[String]("content_hash") ->
        ((r.getLong(0), r.getAs[Long]("ntok"),
          r.getAs[Long]("contamination_e4"), r.getAs[Long]("shard"))))
      .toMap

    // batch reference: the SAME stages with the batch operators
    val all = base.unionByName(dups).drop("event_time")
    val quality = Curation.qualityGate(all, "doc_id", "text").persist()
    val kept = Dedup.dedupKeepBest(quality, "doc_id", "text", col("ntok"))
    val keptDocs = quality.join(kept.select("doc_id"), Seq("doc_id"))
    val contam = Dedup.contamination(keptDocs, "doc_id", "text", eval, "text")
    val clean = keptDocs.join(
      contam.where(col("contamination_e4") < 2000)
        .select(col("id").as("doc_id"), col("contamination_e4")),
      Seq("doc_id"))
    val batchRows = TextAnalysis
      .blocklistFilterInline(clean, "text", blocklist)
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withColumn("shard", Curation.shardOfContent(col("content_hash"), 4))
      .collect()
      .map(r => r.getAs[String]("content_hash") ->
        ((r.getAs[Long]("doc_id"), r.getAs[Long]("ntok"),
          r.getAs[Long]("contamination_e4"), r.getAs[Long]("shard"))))
      .toMap
    quality.unpersist()

    // identical survivor CONTENT set, and per-content identical
    // ntok / contamination / shard — the id may differ (keep-first vs
    // keep-best), which the planted first-file dups force at least once
    assert(streamed.keySet === batchRows.keySet)
    assert(streamed.nonEmpty)
    streamed.foreach { case (h, (_, ntok, e4, shard)) =>
      val (_, bNtok, bE4, bShard) = batchRows(h)
      assert((ntok, e4, shard) === ((bNtok, bE4, bShard)), s"hash $h")
    }
    val idDiffers = streamed.exists { case (h, (id, _, _, _)) =>
      batchRows(h)._1 != id
    }
    assert(idDiffers, "expected at least one keep-first/keep-best id divergence")
    // per-shard token totals agree (the budget invariant)
    val streamTotals = streamed.values.groupBy(_._4)
      .view.mapValues(_.map(_._2).sum).toMap
    val batchTotals = batchRows.values.groupBy(_._4)
      .view.mapValues(_.map(_._2).sum).toMap
    assert(streamTotals === batchTotals)
    } finally graft.util.Fs.deleteRecursively(streamDir)
    spark.catalog.clearCache()
  }

  test("curation stream chains into the budget processor as ONE query " +
    "(two stateful operators), totals equal the batch sums") {
    import graft.ext.{Curation, Dedup}
    graft.etl.TxCorrelator.ensureRocksDb(spark)
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = docs.withColumn("event_time",
      timestamp_micros(lit(1704067200000000L) + col("doc_id") * 1000000L))
    val streamDir = java.nio.file.Files.createTempDirectory("graft-cur1q")
    try {
      base.coalesce(2).write.parquet(streamDir.resolve("f0").toString)
      val schema =
        spark.read.parquet(streamDir.resolve("f0").toString).schema
      val eval = docs.where(col("doc_id") < 10)
      val screen = Dedup.bloomScreenBuild(eval, "text")
      val curated = Curation.curationStream(
        spark.readStream.schema(schema).parquet(s"$streamDir/*"),
        "doc_id", "text", "event_time", screen, Seq("spark"),
        nShards = 4, delay = "2 hours")
      val q = Curation.shardBudgetStream(curated)
        .writeStream.outputMode("append").format("memory")
        .queryName("cur1q_out")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = spark.table("cur1q_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.nonEmpty)
      // per-shard max cum equals that shard's token sum
      val byShard = out.groupBy(_._1)
      byShard.foreach { case (shard, rs) =>
        assert(rs.map(_._4).max === rs.map(_._3).sum, s"shard $shard")
      }
    } finally graft.util.Fs.deleteRecursively(streamDir)
    spark.catalog.clearCache()
  }

  test("per-shard running token budget: bounded transformWithState " +
    "counter matches batch totals across micro-batches") {
    import graft.ext.Curation
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Encoders
    graft.etl.TxCorrelator.ensureRocksDb(spark)
    val stream = MemoryStream[Curation.BudgetIn](
      Encoders.product[Curation.BudgetIn], spark)
    val name = "budget_out"
    val q = Curation.shardBudgetStream(stream.toDS().toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      Curation.BudgetIn(rnd.nextInt(4).toLong, i.toLong,
        (rnd.nextInt(90) + 10).toLong)
    }
    try {
      // three micro-batches, interleaved shards
      rows.grouped(100).foreach { g =>
        stream.addData(g)
        q.processAllAvailable()
      }
    } finally q.stop()
    val out = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === rows.length) // every doc emitted exactly once
    // final per-shard cum equals the batch sum; prefix sums are
    // strictly increasing in emission order per shard
    val byShard = out.groupBy(_._1)
    val want = rows.groupBy(_.shard).view.mapValues(_.map(_.ntok).sum).toMap
    byShard.foreach { case (shard, rs) =>
      assert(rs.map(_._4).max === want(shard), s"shard $shard")
      val sorted = rs.sortBy(_._4)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + b._3 === b._4,
          s"non-contiguous prefix in shard $shard: $a -> $b")
        case _ =>
      }
    }
  }

  test("contamination gram bound is mechanical: joined form equals the " +
    "inline form on every doc; the composed stream through the join " +
    "path (threshold forced below the gram count) equals the inline " +
    "stream; inline above the bound is refused") {
    import graft.ext.{Curation, Dedup}
    graft.etl.TxCorrelator.ensureRocksDb(spark)
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val eval = docs.where(col("doc_id") < 10)
    val screen = Dedup.bloomScreenBuild(eval, "text")
    // batch equality: same frame through both forms
    val shingled = docs
      .withColumn("_th", Dedup.tokenHashes(col("text")))
      .withColumn("_sh", Dedup.shingleHashArray(col("_th"), 3))
    val inline = shingled
      .withColumn("c", Curation.contaminationE4Inline(col("_sh"), screen))
      .select("doc_id", "c").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val joined = Curation
      .contaminationE4Joined(shingled, col("_sh"), screen, outCol = "c")
      .select("doc_id", "c").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(joined === inline)
    assert(inline.exists(_._2 > 0)) // the pin is non-vacuous
    // inline above the bound: refused with the redirect message
    val err = intercept[IllegalArgumentException] {
      Curation.contaminationE4Inline(col("_sh"), screen,
        maxInlineGrams = 5)
    }
    assert(err.getMessage.contains("contaminationE4Joined"))
    // composed stream: forcing the join path (threshold below the
    // eval gram count) must produce the identical curated survivors
    val base = docs.withColumn("event_time",
      timestamp_micros(lit(1704067200000000L) + col("doc_id") * 1000000L))
    val streamDir = java.nio.file.Files.createTempDirectory("graft-curj")
    try {
      base.coalesce(2).write.parquet(streamDir.resolve("f0").toString)
      val schema =
        spark.read.parquet(streamDir.resolve("f0").toString).schema
      def run(name: String, maxInline: Int): Set[(String, Long, Long, Long)] = {
        val q = Curation.curationStream(
          spark.readStream.schema(schema).parquet(s"$streamDir/*"),
          "doc_id", "text", "event_time", screen, Seq("spark"),
          nShards = 4, delay = "2 hours", maxInlineGrams = maxInline)
          .writeStream.outputMode("append").format("memory")
          .queryName(name)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table(name).collect()
          .map(r => (r.getAs[String]("content_hash"),
            r.getAs[Long]("ntok"), r.getAs[Long]("contamination_e4"),
            r.getAs[Long]("shard"))).toSet
      }
      val viaInline = run("curj_inline", Curation.DefaultMaxInlineGrams)
      val viaJoin = run("curj_join", 5)
      assert(viaJoin === viaInline)
      assert(viaInline.nonEmpty)
    } finally graft.util.Fs.deleteRecursively(streamDir)
    spark.catalog.clearCache()
  }

  test("contaminationE4Inline is total on an empty shingle array: " +
    "0 (uncontaminated), never NaN/NULL, so a `< max` gate keeps it") {
    import graft.ext.{Curation, Dedup}
    import spark.implicits._
    val eval = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val screen = Dedup.bloomScreenBuild(eval, "text")
    val got = Seq(
      (1L, "alpha beta gamma delta epsilon"), // real contamination
      (2L, "totally unrelated words here"))   // none
      .toDF("doc_id", "text")
      .withColumn("sh",
        when(col("doc_id") === 1L,
          Dedup.shingleHashes(col("text")))
          .otherwise(expr("array()").cast("array<bigint>")))
      .select(col("doc_id"),
        Curation.contaminationE4Inline(col("sh"), screen).as("c"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(got(1L).asInstanceOf[Long] > 0L)
    assert(got(2L) === 0L) // empty shingles: exactly 0, not null
    spark.catalog.clearCache()
  }

  test("streaming drift monitor: per-source PSI rows equal the batch " +
    "t45 psiDrift, KMV novelty merges to the full-corpus sketch") {
    import graft.ext.{Curation, Dedup, Kmv, Splits, TextAnalysis}
    val srcs = (0 until 5).map(i => s"src$i")
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("source").isin(srcs: _*))
      .select("doc_id", "source", "text")
    val scored = docs.select(col("source"),
      floor(TextAnalysis.qualityScore(col("text")) * 10000)
        .cast("long").as("quality_e4"))
    // the batch reference: t45's per-source PSI on the same corpus
    val batchRows = Splits.psiDrift(scored, "source", "quality_e4")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("psi_e6"),
          r.getAs[Long]("flagged")))).toMap
    val baseDir = java.nio.file.Files.createTempDirectory("graft-dbase")
    val repDir = java.nio.file.Files.createTempDirectory("graft-drep")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-dstr")
    val ckDir = java.nio.file.Files.createTempDirectory("graft-dck")
    try {
      Splits.driftBaselineWrite(spark,
        Splits.driftBaselineBuild(scored, "quality_e4"), baseDir.toString)
      // one file per source → one micro-batch per source
      srcs.foreach { s =>
        docs.where(col("source") === s).coalesce(1)
          .write.parquet(streamDir.resolve(s).toString)
      }
      val q = Curation.driftMonitorStream(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$streamDir/*"),
        "text", baseDir.toString, repDir.toString,
        labelCol = Some("source"))
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckDir.toString)
        .start()
      q.awaitTermination()
      val drift = spark.read.parquet(s"$repDir/drift").collect()
      assert(drift.length === srcs.length)
      // STREAMED ≡ BATCH: each micro-batch's PSI row against the
      // frozen baseline is exactly that source's t45 psiDrift row
      drift.foreach { r =>
        val label = r.getAs[String]("label")
        assert(batchRows.contains(label), s"unexpected batch label $label")
        assert((r.getAs[Long]("n_docs"), r.getAs[Long]("psi_e6"),
          r.getAs[Long]("flagged")) === batchRows(label), s"source $label")
      }
      // KMV novelty accounting: the merged artifact equals the
      // one-shot full-corpus sketch (the trimmed-union merge law),
      // and per-batch novel_est books est_after − est_before
      val full = docs
        .select(explode(Dedup.shingleHashArray(
          Dedup.tokenHashes(col("text")), 3)).as("h"))
        .agg(Kmv.sketch(col("h")).as("sk")).head().getSeq[Long](0)
      val stored = Curation.driftSketchLatest(spark, repDir.toString).get
      assert(stored === full)
      val byBatch = drift.sortBy(_.getAs[Long]("batch_id"))
      byBatch.foreach { r =>
        assert(r.getAs[Long]("novel_est") ===
          math.max(r.getAs[Long]("est_after") -
            r.getAs[Long]("est_before"), 0L))
      }
      assert(byBatch.head.getAs[Long]("est_before") === 0L) // empty seed
      assert(byBatch.last.getAs[Long]("est_after") ===
        Kmv.estimateLocal(full))
    } finally {
      Seq(baseDir, repDir, streamDir, ckDir)
        .foreach(graft.util.Fs.deleteRecursively)
    }
    spark.catalog.clearCache()
  }

  test("drift monitor index health: streamed per-batch sampled recall " +
    "rows equal the batch indexRecallSampled against the same persisted " +
    "index; a missing index rejects at stream construction") {
    import graft.ext.{Curation, Dedup, Splits, TextAnalysis}
    import spark.implicits._
    // corpus = even doc_ids (the persisted index), stream = odd ids in
    // two micro-batches — ids globally distinct across the two sides
    // (the minhashProbeIndex contract); near-dup mass exists because
    // the synthetic documents table carries planted duplicates
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val arriving = docs.where(col("doc_id") % 2 === 1)
    val scored = corpus.select(
      floor(TextAnalysis.qualityScore(col("text")) * 10000)
        .cast("long").as("quality_e4"))
    val baseDir = java.nio.file.Files.createTempDirectory("graft-ihbase")
    val repDir = java.nio.file.Files.createTempDirectory("graft-ihrep")
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ihidx")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ihstr")
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ihck")
    try {
      Splits.driftBaselineWrite(spark,
        Splits.driftBaselineBuild(scored, "quality_e4"), baseDir.toString)
      Dedup.minhashIndexWrite(corpus, "doc_id", "text", idxDir.toString)
      // the vector families ride the same monitor: a small IVF index
      // and a band index over synthetic vectors, ONE unified
      // index_health schema across all three
      val dim = 16
      val vecs = (0 until 80).map { i =>
        (i.toLong, Seq.tabulate(dim)(j => math.sin(i * 2.7 + j).toFloat))
      }.toDF("vec_id", "embedding")
      val ivfDir = java.nio.file.Files.createTempDirectory("graft-ihivf")
      val bandDir = java.nio.file.Files.createTempDirectory("graft-ihband")
      graft.ext.Similarity.ivfIndexWrite(
        graft.ext.Similarity.ivfBuild(
          vecs, "vec_id", "embedding", k = 4, dim = Some(dim)),
        ivfDir.toString)
      graft.ext.Similarity.signBandIndexWrite(
        graft.ext.Similarity.signBandIndexBuild(
          vecs, "vec_id", "embedding", dim = dim),
        bandDir.toString)
      // one tombstone in the IVF index: the health row must carry the
      // logical-delete debt and the (not-yet-firing) compaction policy
      graft.ext.Similarity.IvfFamily.delete(
        ivfDir.toString, Seq(3L).toDF("vec_id"), "vec_id")
      // two files → two micro-batches (maxFilesPerTrigger = 1)
      val lo = arriving.where(col("doc_id") < 300)
      val hi = arriving.where(col("doc_id") >= 300)
      lo.coalesce(1).write.parquet(streamDir.resolve("b0").toString)
      hi.coalesce(1).write.parquet(streamDir.resolve("b1").toString)
      val q = Curation.driftMonitorStream(
        spark.readStream.schema(arriving.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$streamDir/*"),
        "text", baseDir.toString, repDir.toString,
        minhashIndexDir = Some(idxDir.toString),
        ivfIndexDir = Some(ivfDir.toString),
        bandIndexDir = Some(bandDir.toString))
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckDir.toString)
        .start()
      q.awaitTermination()
      val health = spark.read.parquet(s"$repDir/index_health")
        .collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("family")) ->
          ((r.getAs[Long]("n_queries"), r.getAs[Long]("n_exact"),
            r.getAs[Long]("n_approx"), r.getAs[Long]("n_hits"),
            r.getAs[Long]("recall_e4"), r.getAs[Long]("live_rows"),
            r.getAs[Long]("tombstoned_rows"),
            r.getAs[Long]("compact_recommended")))).toMap
      assert(health.size === 6, s"2 batches x 3 families: $health")
      // STREAMED ≡ BATCH, micro-batch by micro-batch (order of file
      // pickup is lexicographic under AvailableNow: b0 then b1)
      Seq(0L -> lo, 1L -> hi).foreach { case (bid, b) =>
        val want = Dedup.indexRecallSampled(
          b, "doc_id", "text", idxDir.toString).head()
        val got = health((bid, "minhash"))
        assert((got._1, got._2, got._3, got._4, got._5) ===
          ((want.getAs[Long]("n_queries"), want.getAs[Long]("n_exact"),
            want.getAs[Long]("n_lsh"), want.getAs[Long]("n_hits"),
            want.getAs[Long]("recall_e4"))), s"batch $bid")
        // the vector-family rows equal their batch audits (stateless —
        // identical across batches)
        val ivfWant = graft.ext.Similarity
          .ivfIndexRecallSampled(spark, ivfDir.toString).head()
        val ivfGot = health((bid, "ivf"))
        assert((ivfGot._1, ivfGot._2, ivfGot._3, ivfGot._4, ivfGot._5) ===
          ((ivfWant.getLong(0), ivfWant.getLong(1), ivfWant.getLong(2),
            ivfWant.getLong(3), ivfWant.getLong(4))), s"ivf batch $bid")
        assert(ivfGot._7 === 1L, "one tombstoned IVF member")
        assert(ivfGot._6 === 79L, "79 live IVF members")
        assert(ivfGot._8 === 0L, "1/80 is under the 10% policy")
        val bandWant = graft.ext.Similarity
          .signBandIndexIntegritySampled(spark, bandDir.toString).head()
        val bandGot = health((bid, "band"))
        assert(bandGot._4 === bandWant.getLong(1) &&
          bandGot._5 === bandWant.getLong(2), s"band batch $bid")
        assert(bandGot._5 === 10000L, "fresh band artifact is intact")
      }
      // the audit must have teeth on this corpus: at least one batch
      // saw sampled queries and a non-vacuous truth set
      assert(health.exists { case ((_, f), v) =>
        f == "minhash" && v._1 > 0 && v._2 > 0
      }, s"vacuous fixture: $health")
      // an ODD indexSampleMod (1 = "audit everything", valid for the
      // minhash audit) must not kill the stream on the IVF family's
      // corpusMod divisibility contract — the monitor drops the
      // corpus cut instead
      val repDir2 = java.nio.file.Files.createTempDirectory("graft-ihr2")
      Curation.driftMonitorApply(lo, 0L, "text",
        Splits.driftBaselineRead(spark, baseDir.toString),
        baseDir.toString, repDir2.toString, None, graft.ext.Kmv.DefaultK,
        None, 0.5, 1L, "doc_id", Some(ivfDir.toString), None)
      assert(spark.read.parquet(s"$repDir2/index_health")
        .where(col("family") === "ivf").count() === 1L)
      graft.util.Fs.deleteRecursively(repDir2)
      // pre-upgrade index_health residue (no 'family' column) rejects
      // at CONSTRUCTION — appending the new schema beside it would
      // leave one table with two incompatible schemas
      val repDir3 = java.nio.file.Files.createTempDirectory("graft-ihr3")
      Seq((0L, 5L)).toDF("batch_id", "n_queries").coalesce(1)
        .write.parquet(s"$repDir3/index_health/b=0")
      val eOld = intercept[IllegalArgumentException] {
        Curation.driftMonitorStream(
          spark.readStream.schema(arriving.schema)
            .parquet(s"$streamDir/*"),
          "text", baseDir.toString, repDir3.toString,
          minhashIndexDir = Some(idxDir.toString))
      }
      assert(eOld.getMessage.contains("pre-upgrade"))
      graft.util.Fs.deleteRecursively(repDir3)
      graft.util.Fs.deleteRecursively(ivfDir)
      graft.util.Fs.deleteRecursively(bandDir)
      // a monitor pointed at a non-index rejects at CONSTRUCTION
      val e = intercept[IllegalArgumentException] {
        Curation.driftMonitorStream(
          spark.readStream.schema(arriving.schema)
            .parquet(s"$streamDir/*"),
          "text", baseDir.toString, repDir.toString,
          minhashIndexDir = Some(streamDir.toString))
      }
      assert(e.getMessage.contains("no minhash index"))
    } finally {
      Seq(baseDir, repDir, idxDir, streamDir, ckDir)
        .foreach(graft.util.Fs.deleteRecursively)
    }
    spark.catalog.clearCache(); graft.ext.Caches.release()
  }

  test("drift monitor k discipline: stamped-k mismatch rejects (seed at " +
    "construction, stored state per batch); label overflow is " +
    "deterministic") {
    import spark.implicits._
    import graft.ext.{Curation, Kmv, Splits}
    val docs = (0 until 40)
      .map(i => (i.toLong, f"s$i%02d", s"doc body number $i words here"))
      .toDF("doc_id", "source", "text")
    val scored = docs.select(col("source"), lit(5000L).as("quality_e4"))
    val base = Splits.driftBaselineBuild(scored, "quality_e4")
    val baseDir = java.nio.file.Files.createTempDirectory("graft-kbase")
    val repDir = java.nio.file.Files.createTempDirectory("graft-krep")
    try {
      Splits.driftBaselineWrite(spark, base, baseDir.toString)
      // batch 0 at the default k — writes sketch_v0 stamped k
      Curation.driftMonitorApply(docs, 0L, "text", base,
        baseDir.toString, repDir.toString, Some("source"), Kmv.DefaultK)
      // 40 distinct labels > the 32 cap: the surviving 32 are the
      // ORDERED smallest (nulls-first ascending), replay-identical —
      // not whichever partitions answered first
      val label = spark.read.parquet(s"$repDir/drift/b=0")
        .head().getAs[String]("label")
      val want = (0 until 32).map(i => f"s$i%02d").mkString(",") + ",…"
      assert(label === want)
      // batch 1 at a DIFFERENT k must reject on the stored v0 stamp
      val e = intercept[IllegalArgumentException] {
        Curation.driftMonitorApply(docs, 1L, "text", base,
          baseDir.toString, repDir.toString, None, Kmv.DefaultK * 2)
      }
      assert(e.getMessage.contains("k="))
      // a seed sketch stamped at a foreign k rejects at stream
      // CONSTRUCTION (before any batch runs)
      Seq((Seq(1L, 2L, 3L), 64)).toDF("sk", "k").coalesce(1)
        .write.mode("overwrite").parquet(s"$baseDir/sketch")
      java.nio.file.Files.createDirectories(repDir.resolve("nostream"))
      val e2 = intercept[IllegalArgumentException] {
        Curation.driftMonitorStream(
          spark.readStream.schema(docs.schema)
            .parquet(repDir.resolve("nostream").toString),
          "text", baseDir.toString, repDir.toString, None, Kmv.DefaultK)
      }
      assert(e2.getMessage.contains("k=64"))
    } finally {
      Seq(baseDir, repDir).foreach(graft.util.Fs.deleteRecursively)
    }
    spark.catalog.clearCache()
  }
}
