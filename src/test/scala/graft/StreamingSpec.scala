package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Streaming semantics pinned against their batch twins. */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("tumbling stream counts equal the batch window aggregation") {
    val streamed = Streams.tumblingCounts(spark, sfDir)
      .select("ws", "n").collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    val batch = SparkEntry.queries("q_window_tumble")(spark, sfDir)
      .select("ws", "n").collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    assert(streamed === batch)
  }

  test("session stream: session counts sum to per-user event counts") {
    val sess = Streams.sessionCounts(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val events = graft.ops.H.t(spark, sfDir, "events")
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sess === events)
  }

  test("streamed incremental dedup equals the batch incremental pair set") {
    import graft.ops.Pipeline
    val glob = graft.ops.Sources.ensureStreamIncr(spark, sfDir) + "/s*"
    val sh = Pipeline.shingled(spark, sfDir)
    val docs = graft.ops.H.t(spark, sfDir, "documents")
    val streamed = Streams.incrementalDedupReplay(spark, glob, docs.schema,
        "doc_id", "text",
        corpusSh = sh.filter(col("doc_id") % 10 =!= 0),
        corpusBands = Pipeline.corpusBands(spark, sfDir), threshold = 0.5)
    // the replay really ran as MULTIPLE micro-batches (one per arrival
    // file), not one big batch — the thing this operator exists to show
    val nBatches = streamed.inputFiles
      .map(_.replaceAll(".*batch_id=([0-9]+).*", "$1")).distinct.length
    assert(nBatches >= 2, s"expected >=2 micro-batch partitions, got $nBatches")
    val got = streamed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.api.Dedup.incrementalMinhashPairsIndexed(
        sh.filter(col("doc_id") % 10 =!= 0),
        Pipeline.corpusBands(spark, sfDir),
        sh.filter(col("doc_id") % 10 === 0), threshold = 0.5)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === batch)
  }

  test("streamed semantic incremental dedup equals the one-shot increment") {
    import graft.api.{Dedup, Similarity}
    val emb = graft.ops.H.t(spark, sfDir, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
    val corpus = Similarity.ivfIndex(emb, cents, "vec_id", "embedding")
    // 3 arrival files with ids ASCENDING by batch order (the parity
    // precondition): half exact copies (corpus-dominated), half
    // reversed vectors
    val base = 90000L
    val n = emb.count()
    val inc = emb.select((col("vec_id") + lit(base)).as("vec_id"),
      expr("IF(vec_id % 2 = 0, embedding, reverse(embedding))")
        .as("embedding"))
    val incDir = s"${sys.props("java.io.tmpdir")}/graft-test-semincr"
    (0 until 3).foreach { i =>
      val lo = base + i * n / 3
      val hi = if (i == 2) Long.MaxValue else base + (i + 1) * n / 3
      inc.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(s"$incDir/s$i")
    }
    val glob = s"$incDir/s*"
    val streamed = Streams.semanticDedupReplay(spark, glob,
      spark.read.parquet(s"$incDir/s0").schema, "vec_id", "embedding",
      corpus, cents, threshold = 0.2)
    val nBatches = streamed.inputFiles
      .map(_.replaceAll(".*batch_id=([0-9]+).*", "$1")).distinct.length
    assert(nBatches >= 2, s"expected >=2 micro-batch partitions, got $nBatches")
    val got = streamed.select("vec_id").collect().map(_.getLong(0)).toSet
    val oneShot = Dedup.semanticDedupIncrement(corpus, cents,
        spark.read.parquet(glob), "vec_id", "embedding", threshold = 0.2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got === oneShot)
    // exact copies of corpus vectors must all be dominated away
    assert(got.forall(_ % 2 === 1), s"an exact copy survived: $got")
  }

  test("streamed paragraph incremental dedup equals the one-shot increment") {
    import graft.api.Dedup
    val docs = graft.ops.H.t(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val glob = graft.ops.Sources.ensureStreamParIncr(spark, sfDir) + "/s*"
    val streamed = Streams.segmentDedupReplay(spark, glob,
      docs.select("doc_id", "text").schema, "doc_id", "text",
      Dedup.segmentHashes(corpus, "doc_id", "text", 15), segTokens = 15)
    val nBatches = streamed.inputFiles
      .map(_.replaceAll(".*batch_id=([0-9]+).*", "$1")).distinct.length
    assert(nBatches >= 2, s"expected >=2 micro-batch partitions, got $nBatches")
    val got = streamed.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    val oneShot = Dedup.incrementalParagraphDedup(corpus,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", 15)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    assert(got === oneShot)
  }

  test("streamed cms sketch equals the batch sketch over the same slice") {
    import graft.api.Sketches
    import graft.ops.{Pipeline, Sources}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val glob = Sources.ensureStreamIncr(spark, sfDir) + "/s*"
    val streamed = Streams.cmsSketchStream(spark, glob, docs.schema, "text",
        Pipeline.CmsDepth, Pipeline.CmsWidth)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Sketches.cmsSketch(docs.filter(col("doc_id") % 10 === 0),
        "text", Pipeline.CmsDepth, Pipeline.CmsWidth)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch,
      "counter addition must commute with micro-batching")
    assert(streamed.size <= Pipeline.CmsDepth * Pipeline.CmsWidth)
  }

  test("foreachBatch parquet sink is idempotent under batch redelivery") {
    val out = java.nio.file.Files.createTempDirectory("fb").toString
    val n1 = Streams.replayToParquet(spark, sfDir, out)
    // fresh checkpoint, same deterministic source → the same batches
    // are REDELIVERED; per-batch partition overwrite must not duplicate
    val n2 = Streams.replayToParquet(spark, sfDir, out)
    assert(n1 === n2)
    assert(n1 === graft.ops.H.t(spark, sfDir, "events").count())
  }

  test("checkpoint resume: restart processes only new files, union is exact") {
    // The restart-from-checkpoint contract the replay-result cache is
    // modeled on: an AvailableNow re-run against a LIVE checkpoint
    // processes zero rows on unchanged sources and exactly the new
    // file's rows after one arrives — never a full re-replay.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("ckresume").toString
    val src = s"$base/src"; val out = s"$base/out"; val ck = s"$base/ck"
    import spark.implicits._
    def stage(i: Int, rows: Seq[(Long, String)]): Unit =
      rows.toDF("user_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(s"$src/s$i")
    stage(0, Seq((1L, "click"), (2L, "view")))
    stage(1, Seq((3L, "click")))
    val sch = spark.read.parquet(s"$src/s0").schema
    def run(): Long = {
      val processed = new java.util.concurrent.atomic.AtomicLong
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/s*")
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          processed.addAndGet(b.count())
          b.write.mode("overwrite").parquet(s"$out/batch_id=$id")
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      processed.get
    }
    assert(run() === 3L, "cold run processes every staged row")
    assert(run() === 0L, "resume over unchanged sources processes nothing")
    stage(2, Seq((4L, "purchase"), (5L, "click")))
    assert(run() === 2L, "resume after arrival processes ONLY the new file")
    val got = spark.read.parquet(out)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "click"), (2L, "view"), (3L, "click"),
      (4L, "purchase"), (5L, "click")))
  }

  test("persisted replay: cold writes the store, warm serves it, regen rebuilds") {
    import graft.api.BuildCache
    // own source dir — the shared sfDir store may already be warm from
    // an earlier process, which would make cold/warm observations racy
    val dir = SparkTestSession.tempDir("preplay").toString
    import spark.implicits._
    def write(rows: Seq[(Long, Long, String, Double)]): Unit = {
      // a single FILE named events.parquet, like the real testdata —
      // eventsStream's pathGlobFilter matches leaf file names
      val tmp = s"$dir/_stage"
      rows.toDF("event_id", "user_id", "event_type", "value")
        .withColumn("ts", expr(
          "timestamp_micros(cast(1700000000000000 + event_id * 60000000 as long))"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    write(Seq((1L, 10L, "click", 1.0), (2L, 10L, "click", 2.0),
      (3L, 11L, "view", 3.0)))
    def dataFiles(): Map[String, Long] = {
      val d = BuildCache.root.resolve(s"replay_dedup_keys-${graft.api.Dedup.tableTag(dir)}")
      Option(d.toFile.listFiles()).getOrElse(Array.empty).flatMap(e =>
        Option(e.listFiles()).getOrElse(Array.empty))
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    def outcome = BuildCache.outcome("replay_dedup_keys", dir)
    val first = Streams.dedupKeys(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(first === Set((10L, "click"), (11L, "view")))
    val files1 = dataFiles()
    assert(files1.nonEmpty && outcome === ((0, 1)),
      "cold call published the replay entry")
    Graft.clear(spark) // drop the in-session memo → next call
    Thread.sleep(1100)          // must go through the disk layer
    val second = Streams.dedupKeys(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(second === first)
    assert(dataFiles() === files1 && outcome === ((1, 1)),
      "unchanged sources: served from the entry, no re-replay rewrite")
    write(Seq((1L, 20L, "buy", 1.0))) // regen: content change
    Graft.clear(spark)
    val third = Streams.dedupKeys(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(third === Set((20L, "buy")),
      "regenerated source invalidates the entry and re-replays")
    assert(outcome === ((1, 2)))
  }

  test("rate source smoke: unbounded synthetic stream plans and runs") {
    // The rate source is wall-clock driven (nondeterministic values), so
    // this is a plumbing smoke: one micro-batch through the same
    // windowed-aggregation shape used by the file-replay queries.
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .withWatermark("timestamp", "1 second")
      .groupBy(window(col("timestamp"), "1 second"))
      .count()
    val q = stream.writeStream.format("memory")
      .queryName("rate_smoke").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200))
      .start()
    try {
      q.awaitTermination(4000)
      assert(q.isActive, "stream stays up")
    } finally q.stop()
    assert(spark.table("rate_smoke").columns.toSeq === Seq("window", "count"))
  }
}
