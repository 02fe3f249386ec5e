package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.TxTable

/** A local filesystem that ANSWERS to the `s3` scheme: lets the spec
  * exercise TxTable's non-atomic-claim gating (rejection + explicit
  * opt-in) end to end — staging, commit, read-back — without a real
  * object store in the sandbox.
  */
class FakeS3FileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "s3"
  override def getUri: java.net.URI = java.net.URI.create("s3:///")
}

/** The transactional-table contracts: atomic visibility, optimistic
  * concurrency, snapshot isolation / time travel, checkpoint-based
  * resolution, content-preserving compaction, reference-safe vacuum.
  */
class TxTableSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("txtable").toString + "/t"

  private def rows(path: String): Set[(Long, String)] =
    TxTable.read(spark, path).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("create, append, time travel: each version is exactly its fold") {
    val t = fresh()
    val v1 = TxTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v2 = TxTable.append(spark, t, Seq((3L, "c")).toDF("id", "v"))
    assert((v1, v2) === (1L, 2L))
    assert(rows(t) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(TxTable.readVersion(spark, t, 1).select("id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L),
      "version 1 is unchanged by the later append")
    val v3 = TxTable.overwrite(spark, t, Seq((9L, "z")).toDF("id", "v"))
    assert(v3 === 3L && rows(t) === Set((9L, "z")))
    assert(TxTable.readVersion(spark, t, 2).count() === 3L,
      "overwrite does not rewrite history")
    assert(TxTable.history(spark, t).map(c => c.version -> c.action) ===
      Seq(1L -> "overwrite", 2L -> "append", 3L -> "overwrite"))
  }

  test("snapshot isolation: a resolved reader survives a concurrent overwrite") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "old")).toDF("id", "v"))
    val snapshot = TxTable.read(spark, t) // resolves v1's file list NOW
    TxTable.overwrite(spark, t, Seq((2L, "new")).toDF("id", "v"))
    assert(snapshot.select("v").collect().map(_.getString(0)).toSeq ===
      Seq("old"), "immutable data files isolate the reader from the writer")
    assert(rows(t) === Set((2L, "new")))
  }

  test("optimistic concurrency: racing appends all land, none lost") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((0L, "base")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs = (1 to 8).map { i =>
      scala.concurrent.Future {
        (0 until 3).map { j =>
          TxTable.append(spark, t,
            Seq((i * 100L + j, s"w$i-$j")).toDF("id", "v"))
        }
      }
    }
    val versions = scala.concurrent.Await
      .result(scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration(120, "s")).flatten
    pool.shutdown()
    assert(versions.distinct.size === 24, "every commit claimed a unique version")
    assert(versions.toSet === (2L to 25L).toSet)
    assert(TxTable.read(spark, t).count() === 25L, "no append lost")
  }

  test("checkpoint: the latest snapshot resolves without the early log") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((0L, "v1")).toDF("id", "v"))
    (1 to 11).foreach(i =>
      TxTable.append(spark, t, Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val ck = new java.io.File(s"$t/_txlog")
      .listFiles().map(_.getName).filter(_.endsWith(".checkpoint.json"))
    assert(ck.nonEmpty, s"a checkpoint landed at v${TxTable.CheckpointEvery}")
    // delete every commit record BELOW the checkpoint: resolution of the
    // current snapshot must come from checkpoint + tail, not a full replay
    (1 to TxTable.CheckpointEvery - 1).foreach { v =>
      val f = new java.io.File(f"$t/_txlog/$v%020d.json")
      assert(f.delete(), s"test setup: removed commit $v")
    }
    assert(TxTable.read(spark, t).count() === 12L,
      "checkpoint-based resolution never replays the deleted prefix")
  }

  test("compact: content-identical, fewer files, history intact") {
    val t = fresh()
    TxTable.overwrite(spark, t, spark.range(100).select(col("id"),
      concat(lit("r"), col("id")).as("v")))
    (0 until 4).foreach(i => TxTable.append(spark, t,
      spark.range(100 + i * 10, 110 + i * 10).select(col("id"),
        concat(lit("r"), col("id")).as("v"))))
    val before = rows(t)
    val filesBefore = TxTable.read(spark, t).inputFiles.length
    TxTable.compact(spark, t, numFiles = 1)
    assert(rows(t) === before, "compaction preserves content exactly")
    assert(TxTable.read(spark, t).inputFiles.length === 1)
    assert(TxTable.read(spark, t).inputFiles.length < filesBefore)
    assert(TxTable.readVersion(spark, t, 5).count() === 140L,
      "pre-compaction versions stay readable")
  }

  test("append enforces the head schema by name and type, order-blind") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    // same fields, different order: accepted (parquet resolves by name)
    TxTable.append(spark, t, Seq(("b", 2L)).toDF("v", "id"))
    assert(rows(t) === Set((1L, "a"), (2L, "b")))
    val wrongType = intercept[IllegalArgumentException] {
      TxTable.append(spark, t, Seq((3, "c")).toDF("id", "v")) // id: Int
    }
    assert(wrongType.getMessage.contains("schema mismatch"))
    val wrongName = intercept[IllegalArgumentException] {
      TxTable.append(spark, t, Seq((3L, "c")).toDF("id", "other"))
    }
    assert(wrongName.getMessage.contains("schema mismatch"))
    assert(rows(t) === Set((1L, "a"), (2L, "b")), "rejected appends land nothing")
  }

  test("txn append is idempotent: redelivery lands nothing twice") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    val v1 = TxTable.append(spark, t, Seq((2L, "b")).toDF("id", "v"),
      txn = Some("ingest:7"))
    val v2 = TxTable.append(spark, t, Seq((2L, "b")).toDF("id", "v"),
      txn = Some("ingest:7")) // the redelivery
    assert(v1 === v2, "the redelivered txn returns the landed version")
    assert(TxTable.read(spark, t).count() === 2L, "no duplicate rows")
    assert(TxTable.latestVersion(spark, t) === 2L, "no extra version")
  }

  test("streamAppend: exactly-once ingest across a full checkpoint redelivery") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("txstream").toString
    val t = s"$base/table"
    (0 until 3).foreach(i =>
      spark.range(i * 10, i * 10 + 10).select(col("id"),
          concat(lit("r"), col("id")).as("v"))
        .coalesce(1).write.parquet(s"$base/src/s$i"))
    val sch = spark.read.parquet(s"$base/src/s0").schema
    def run(ck: String): Unit = {
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src/s*")
        .writeStream
        .foreachBatch(TxTable.streamAppend(spark, t, "ingest"))
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run(s"$base/ck1")
    assert(TxTable.read(spark, t).count() === 30L)
    // a FRESH checkpoint redelivers every batch with the same batch ids:
    // the txn markers in the log must absorb all of them
    run(s"$base/ck2")
    assert(TxTable.read(spark, t).count() === 30L,
      "full redelivery landed zero duplicate rows")
    assert(TxTable.history(spark, t).count(_.action == "append") === 3,
      "three batches, three append commits, despite six deliveries")
  }

  test("merge upserts by key; deleteWhere removes; history untouched") {
    val t = fresh()
    TxTable.overwrite(spark, t,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    TxTable.merge(spark, t,
      Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), Seq("id"))
    assert(rows(t) === Set((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")),
      "matched key replaced, unmatched inserted")
    TxTable.deleteWhere(spark, t, col("id") < 2)
    assert(rows(t) === Set((2L, "B2"), (3L, "c"), (4L, "d")))
    assert(TxTable.readVersion(spark, t, 1).count() === 3L,
      "mutations never rewrite history")
    val wrong = intercept[IllegalArgumentException] {
      TxTable.merge(spark, t, Seq((5, "x")).toDF("id", "v"), Seq("id"))
    }
    assert(wrong.getMessage.contains("merge schema mismatch"),
      "merge is schema-enforced and the error names merge, not append")
    // key hygiene: a duplicate or NULL key in updates would silently
    // corrupt the upsert contract (both dup rows land; a NULL key
    // accumulates instead of replacing) — both reject loudly
    val dup = intercept[IllegalArgumentException] {
      TxTable.merge(spark, t,
        Seq((9L, "x"), (9L, "y")).toDF("id", "v"), Seq("id"))
    }
    assert(dup.getMessage.contains("unique, non-null"))
    val nul = intercept[IllegalArgumentException] {
      TxTable.merge(spark, t,
        Seq((Some(9L), "x"), (None, "y"))
          .toDF("id", "v"), Seq("id"))
    }
    assert(nul.getMessage.contains("unique, non-null"))
  }

  test("deleteWhere keeps NULL-evaluating rows; empty-table mutations refuse") {
    val t = fresh()
    TxTable.overwrite(spark, t,
      Seq((Some("x"), 1L), (None, 2L)).toDF("v", "id"))
    // SQL DELETE semantics: predicate NULL (null === \"x\") must KEEP
    // the row, not silently delete it via !NULL
    TxTable.deleteWhere(spark, t, col("v") === "x")
    assert(TxTable.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet === Set(2L))
    val e = intercept[IllegalStateException] {
      TxTable.deleteWhere(spark, fresh(), col("id") > 0)
    }
    assert(e.getMessage.contains("no commits yet"))
  }

  test("truncate to empty stays a readable, appendable table") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    TxTable.overwrite(spark, t,
      Seq((1L, "a")).toDF("id", "v").filter(col("id") > 100))
    assert(TxTable.read(spark, t).count() === 0L)
    assert(TxTable.read(spark, t).columns.toSeq === Seq("id", "v"),
      "the empty head still carries the schema")
    TxTable.append(spark, t, Seq((2L, "b")).toDF("id", "v"))
    assert(rows(t) === Set((2L, "b")))
  }

  test("txn idempotence survives checkpoint folding") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((0L, "base")).toDF("id", "v"))
    (1 to 12).foreach(i => TxTable.append(spark, t,
      Seq((i.toLong, s"r$i")).toDF("id", "v"), txn = Some(s"a:$i")))
    assert(TxTable.latestVersion(spark, t) === 13L)
    val n = TxTable.read(spark, t).count()
    // txn a:3 landed BEFORE the v10 checkpoint — its id now lives in
    // the checkpoint's folded txn set, not a tail record; redelivery
    // must still be absorbed
    TxTable.append(spark, t, Seq((3L, "r3")).toDF("id", "v"),
      txn = Some("a:3"))
    assert(TxTable.read(spark, t).count() === n, "folded txn absorbed")
    assert(TxTable.latestVersion(spark, t) === 13L, "no new version")
  }

  test("clustered write + readRange: log-level file pruning, exact results") {
    val t = fresh()
    TxTable.overwriteClustered(spark, t,
      spark.range(1000).select(col("id"),
        concat(lit("r"), col("id")).as("v")), "id", numFiles = 8)
    val full = TxTable.read(spark, t)
    assert(full.inputFiles.length === 8)
    val pruned = TxTable.readRange(spark, t, "id", 100, 150)
    assert(pruned.inputFiles.length < 8,
      "stats in the commit log prune files before Spark sees them")
    assert(pruned.collect().map(_.getLong(0)).toSet ===
      (100L to 150L).toSet, "pruning never changes the answer")
    // an unclustered append has no stats → always read (correctness
    // over pruning), and its rows must appear in later range reads
    TxTable.append(spark, t, Seq((125L, "dup125")).toDF("id", "v"))
    val withAppend = TxTable.readRange(spark, t, "id", 100, 150)
    assert(withAppend.count() === 52L, "the unprunable appended row is seen")
    // stats survive checkpoint folding: after enough commits for a
    // checkpoint, pruning still engages from the checkpoint's stats
    (1 to TxTable.CheckpointEvery).foreach(i => TxTable.append(spark, t,
      Seq((2000L + i, s"a$i")).toDF("id", "v")))
    val afterCk = TxTable.readRange(spark, t, "id", 100, 150)
    assert(afterCk.inputFiles.length < TxTable.read(spark, t).inputFiles.length,
      "post-checkpoint range reads still prune the clustered files")
    assert(afterCk.count() === 52L)
    // out-of-range: every clustered file pruned, appends still scanned
    assert(TxTable.readRange(spark, t, "id", 5000, 6000).count() === 0L)
    // maintenance must not erase the skipping metadata: compact
    // re-clusters by the recorded stats column and lands fresh stats
    TxTable.compact(spark, t, numFiles = 4)
    val afterCompact = TxTable.readRange(spark, t, "id", 100, 150)
    assert(afterCompact.inputFiles.length < 4,
      "post-compact range reads still prune (stats recomputed)")
    assert(afterCompact.count() === 52L)
    // the stats are FOR the clustered column: pruning them against a
    // different column would be silent row loss — reject loudly
    val wrongCol = intercept[IllegalArgumentException] {
      TxTable.readRange(spark, t, "v", 0, 10)
    }
    assert(wrongCol.getMessage.contains("clustered by"))
    // a non-stat-encodable cluster column (float: its footer stats are
    // not losslessly long-encodable) rejects BEFORE staging
    val notLong = intercept[IllegalArgumentException] {
      TxTable.overwriteClustered(spark, fresh(),
        Seq((0.5, 1L)).toDF("v", "id"), "v")
    }
    assert(notLong.getMessage.contains("integral, date"))
  }

  test("z-ordered write + readBox: two-dimensional pruning, exact results") {
    val t = fresh()
    // a 64x64 grid: z-order clusters rectangles of (x, y) into files
    TxTable.overwriteZordered(spark, t,
      spark.range(4096).select((col("id") % 64).as("x"),
        (col("id") / 64).cast("long").as("y"),
        concat(lit("r"), col("id")).as("v")), "x", "y", numFiles = 16)
    val full = TxTable.read(spark, t)
    assert(full.inputFiles.length === 16)
    def boxSet(b: Seq[(String, Long, Long)]) =
      TxTable.readBox(spark, t, b).select("x", "y").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a corner box: the Morton layout packs it into few files
    val corner = TxTable.readBox(spark, t, Seq(("x", 0L, 7L), ("y", 0L, 7L)))
    assert(corner.inputFiles.length < 16,
      "2-D stats in the commit log prune files before Spark sees them")
    assert(boxSet(Seq(("x", 0L, 7L), ("y", 0L, 7L))) ===
      (for (x <- 0L to 7L; y <- 0L to 7L) yield (x, y)).toSet,
      "pruning never changes the answer")
    // one-dimensional boxes prune too (either recorded dimension alone)
    val xOnly = TxTable.readBox(spark, t, Seq(("x", 0L, 3L)))
    assert(xOnly.inputFiles.length < 16 && xOnly.count() === 4L * 64)
    val yOnly = TxTable.readBox(spark, t, Seq(("y", 60L, 63L)))
    assert(yOnly.inputFiles.length < 16 && yOnly.count() === 4L * 64)
    // an unclustered append has no stats → always read, rows appear
    TxTable.append(spark, t, Seq((2L, 2L, "late")).toDF("x", "y", "v"))
    assert(boxSet(Seq(("x", 0L, 7L), ("y", 0L, 7L))).size === 64,
      "the appended (2,2) duplicate collapses in the set; row IS read")
    assert(TxTable.readBox(spark, t,
      Seq(("x", 0L, 7L), ("y", 0L, 7L))).count() === 65L)
    // stats survive checkpoint folding
    (1 to TxTable.CheckpointEvery).foreach(i => TxTable.append(spark, t,
      Seq((500L + i, 500L + i, s"a$i")).toDF("x", "y", "v")))
    val afterCk = TxTable.readBox(spark, t, Seq(("x", 0L, 7L), ("y", 0L, 7L)))
    assert(afterCk.inputFiles.length <
      TxTable.read(spark, t).inputFiles.length,
      "post-checkpoint box reads still prune the z-ordered files")
    // compact re-z-orders and lands fresh 2-D stats
    TxTable.compact(spark, t, numFiles = 8)
    val afterCompact =
      TxTable.readBox(spark, t, Seq(("x", 0L, 7L), ("y", 0L, 7L)))
    assert(afterCompact.inputFiles.length < 8,
      "post-compact box reads still prune (2-D stats recomputed)")
    assert(afterCompact.count() === 65L)
    // boxes on unrecorded columns reject loudly — pruning with the
    // wrong column's bounds would be silent row loss
    val wrongCol = intercept[IllegalArgumentException] {
      TxTable.readBox(spark, t, Seq(("v", 0L, 10L)))
    }
    assert(wrongCol.getMessage.contains("records stats for"))
    // readRange (single-col protocol) on a z-ordered table rejects too:
    // it carries no statsCol, so the require trips on files-without-…
    // actually: statsCol is None → readRange silently full-scans with
    // the residual filter, which is CORRECT (never prunes) — pin that
    assert(TxTable.readRange(spark, t, "x", 0, 7).count() === 8L * 64 + 1)
    // a non-stat-encodable dimension (string) rejects BEFORE staging
    val notLong = intercept[IllegalArgumentException] {
      TxTable.overwriteZordered(spark, fresh(),
        Seq(("a", 1L)).toDF("v", "id"), "v", "id")
    }
    assert(notLong.getMessage.contains("integral, date or timestamp"))
  }

  test("3-D z-ordered write + readBox: pruning on any dimension subset") {
    val t = fresh()
    // a 16x16x16 cube: the 3-way interleave clusters boxes into files
    TxTable.overwriteZordered(spark, t,
      spark.range(4096).select((col("id") % 16).as("x"),
        ((col("id") / 16) % 16).cast("long").as("y"),
        (col("id") / 256).cast("long").as("z"),
        concat(lit("r"), col("id")).as("v")),
      Seq("x", "y", "z"), numFiles = 16, bits = 0)
    assert(TxTable.read(spark, t).inputFiles.length === 16)
    def boxSet(b: Seq[(String, Long, Long)]) =
      TxTable.readBox(spark, t, b).select("x", "y", "z").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a corner cube prunes hard and reads exactly its cells
    val corner = TxTable.readBox(spark, t,
      Seq(("x", 0L, 3L), ("y", 0L, 3L), ("z", 0L, 3L)))
    assert(corner.inputFiles.length < 16,
      "3-D stats in the commit log prune files before Spark sees them")
    assert(boxSet(Seq(("x", 0L, 3L), ("y", 0L, 3L), ("z", 0L, 3L))) ===
      (for (x <- 0L to 3L; y <- 0L to 3L; z <- 0L to 3L) yield (x, y, z)).toSet)
    // any single recorded dimension prunes alone
    val zOnly = TxTable.readBox(spark, t, Seq(("z", 14L, 15L)))
    assert(zOnly.inputFiles.length < 16 && zOnly.count() === 2L * 256)
    // two-of-three prunes too
    val xy = TxTable.readBox(spark, t, Seq(("x", 0L, 1L), ("y", 0L, 1L)))
    assert(xy.inputFiles.length < 16 && xy.count() === 4L * 16)
    // a compact re-lays-out in 3-D and lands fresh 3-D stats
    TxTable.compact(spark, t, numFiles = 8)
    val afterCompact = TxTable.readBox(spark, t,
      Seq(("x", 0L, 3L), ("y", 0L, 3L), ("z", 0L, 3L)))
    assert(afterCompact.inputFiles.length < 8,
      "post-compact 3-D box reads still prune (stats recomputed)")
    assert(afterCompact.count() === 64L)
    // >4 dims and overflowing interleaves reject before staging
    val tooMany = intercept[IllegalArgumentException] {
      TxTable.overwriteZordered(spark, fresh(),
        spark.range(4).selectExpr("id a", "id b", "id c", "id d", "id e"),
        Seq("a", "b", "c", "d", "e"), 4, 0)
    }
    assert(tooMany.getMessage.contains("2-4"))
    intercept[IllegalArgumentException] {
      graft.api.Layout.zValue(Seq("a", "b", "c", "d"), 16) // 64 > 62
    }
  }

  test("vacuum removes only unreferenced stagings; history stays readable") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    TxTable.append(spark, t, Seq((2L, "b")).toDF("id", "v"))
    // a crashed staging: data written, commit never landed
    Seq((99L, "orphan")).toDF("id", "v")
      .write.parquet(s"$t/data-deadbeef0000")
    assert(TxTable.vacuum(spark, t) === 0,
      "a YOUNG unreferenced staging is presumed in-flight: the default " +
        "age floor must leave it for the writer whose commit is coming")
    assert(TxTable.vacuum(spark, t, olderThanMs = 0L) === 1,
      "past the age floor, exactly the orphan is removed")
    assert(!new java.io.File(s"$t/data-deadbeef0000").exists())
    assert(rows(t) === Set((1L, "a"), (2L, "b")))
    assert(TxTable.readVersion(spark, t, 1).count() === 1L,
      "vacuum never touches log-reachable files")
    assert(TxTable.vacuum(spark, t, olderThanMs = 0L) === 0)
  }

  test("bloom-indexed write + readPoints: secondary-key pruning, no false negatives") {
    val t = fresh()
    // clustered by id, bloom on the INDEPENDENT secondary key k: range
    // layout tells the reader nothing about k, only the bloom prunes
    TxTable.overwriteClustered(spark, t,
      spark.range(4000).select(col("id"),
        ((col("id") * 2654435761L) % 1000003L).as("k"),
        concat(lit("r"), col("id")).as("v")),
      "id", numFiles = 8, bloomCol = Some("k"))
    val full = TxTable.read(spark, t)
    assert(full.inputFiles.length === 8)
    // every present key must be found (no false negatives): probe a
    // sample of true keys through the bloom path and compare with the
    // full-scan answer
    val sample = full.select("k").limit(64).collect().map(_.getLong(0))
    for (kv <- sample.take(8)) {
      val got = TxTable.readPoints(spark, t, "k", Seq(kv))
        .select("id").collect().map(_.getLong(0)).toSet
      val want = full.filter(col("k") === kv)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got === want, s"bloom lookup of k=$kv must equal a full scan")
    }
    // pruning engages: a single-key probe reads fewer files than the
    // table holds (4000 keys over 8 files; ≈1% fp per file)
    val probe = TxTable.readPoints(spark, t, "k", Seq(sample.head))
    assert(probe.inputFiles.length < 8,
      "the bloom in the commit log prunes files before Spark sees them")
    // an absent key: result empty regardless of false positives
    assert(TxTable.readPoints(spark, t, "k", Seq(-1L)).count() === 0L)
    // an unindexed append has no bloom → always read, its rows visible
    TxTable.append(spark, t, Seq((9001L, 424242L, "late")).toDF("id", "k", "v"))
    assert(TxTable.readPoints(spark, t, "k", Seq(424242L)).count() === 1L,
      "files without a bloom entry are unprunable, never invisible")
    // compaction must re-derive the blooms for the new layout
    TxTable.compact(spark, t, numFiles = 4)
    assert(TxTable.readPoints(spark, t, "k", Seq(sample.head))
      .inputFiles.length < 4, "post-compact point reads still prune")
    assert(TxTable.readPoints(spark, t, "k", Seq(424242L)).count() === 1L)
    // probing a column the table carries no blooms for rejects loudly
    val wrongCol = intercept[IllegalArgumentException] {
      TxTable.readPoints(spark, t, "id", Seq(1L))
    }
    assert(wrongCol.getMessage.contains("blooms"))
  }

  test("restore: metadata-only rollback, history linear, vacuum-safe") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    TxTable.overwrite(spark, t, Seq((9L, "bad")).toDF("id", "v"))
    def dataDirs(): Set[String] =
      new java.io.File(t).listFiles().map(_.getName)
        .filter(_.startsWith("data-")).toSet
    val before = dataDirs()
    val v3 = TxTable.restore(spark, t, 1)
    assert(v3 === 3L)
    assert(dataDirs() === before,
      "restore re-references v1's immutable files — no data copied")
    assert(rows(t) === Set((1L, "a"), (2L, "b")))
    assert(TxTable.readVersion(spark, t, 2).collect().head.getString(1)
      === "bad", "the rolled-back version stays readable (linear history)")
    // vacuum can never collect restored files: v1 still references them
    assert(TxTable.vacuum(spark, t, olderThanMs = 0L) === 0)
    assert(rows(t) === Set((1L, "a"), (2L, "b")))
    // restore preserves skipping metadata: a clustered table pruned
    // before the rollback must still prune after it
    val c = fresh()
    TxTable.overwriteClustered(spark, c,
      spark.range(1000).select(col("id"),
        concat(lit("r"), col("id")).as("v")), "id", numFiles = 8)
    TxTable.overwrite(spark, c, Seq((5000L, "junk")).toDF("id", "v"))
    TxTable.restore(spark, c, 1)
    val pruned = TxTable.readRange(spark, c, "id", 100, 150)
    assert(pruned.inputFiles.length < 8 && pruned.count() === 51L,
      "restore carries the stats forward — pruning survives the rollback")
  }

  test("changes: file-level CDC — appends read increments, compacts read nothing new") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    TxTable.append(spark, t, Seq((3L, "c")).toDF("id", "v"))
    // v1 -> v2: pure inserts, and ONLY the appended file is read
    val c12 = TxTable.changes(spark, t, 1, 2)
    assert(c12.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSet ===
      Set((3L, "c", "insert")))
    assert(c12.inputFiles.forall(!_.contains(
      TxTable.history(spark, t).head.files.head.takeWhile(_ != '/'))),
      "files live in both versions cancel WITHOUT being read")
    // v2 -> v3 spans a compact: every file rewritten, zero row changes
    TxTable.compact(spark, t)
    assert(TxTable.changes(spark, t, 2, 3).count() === 0L,
      "a content-identical rewrite produces an empty change feed")
    // a delete shows up as exactly its removed rows
    TxTable.deleteWhere(spark, t, col("id") === 2L)
    assert(TxTable.changes(spark, t, 3, 4).collect().map(r =>
      (r.getLong(0), r.getString(2))).toSet === Set((2L, "delete")))
    // bag semantics: duplicate rows count with multiplicity
    TxTable.append(spark, t, Seq((1L, "a")).toDF("id", "v"))
    val dup = TxTable.changes(spark, t, 4, 5).collect()
    assert(dup.map(r => (r.getLong(0), r.getString(2))).toSeq ===
      Seq((1L, "insert")),
      "a re-inserted duplicate of a surviving row is ONE insert")
    // whole-window view: v1 -> head nets out to the delete + the dup
    assert(TxTable.changes(spark, t, 1, 5).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSet ===
      Set((3L, "c", "insert"), (1L, "a", "insert"), (2L, "b", "delete")))
  }

  test("changesRows: row-level CDF carries both update images") {
    val t = fresh()
    TxTable.overwrite(spark, t,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // v2: merge with cdf — id=2 updates (pre+post), id=9 inserts
    TxTable.merge(spark, t, Seq((2L, "B"), (9L, "i")).toDF("id", "v"),
      Seq("id"), cdf = true)
    // v3: delete with cdf — id=1 removed
    TxTable.deleteWhere(spark, t, col("id") === 1L, cdf = true)
    def feed(from: Long, to: Long): Set[(Long, String, String, Long)] =
      TxTable.changesRows(spark, t, from, to)
        .select("id", "v", TxTable.ChangeCol, TxTable.VersionCol).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
    assert(feed(1, 2) === Set(
      (2L, "b", "update_preimage", 2L),
      (2L, "B", "update_postimage", 2L),
      (9L, "i", "insert", 2L)),
      "a merge's feed pairs pre and post images and tags true inserts")
    assert(feed(2, 3) === Set((1L, "a", "delete", 3L)),
      "a delete's feed carries the removed row's full content")
    // change files are increment-sized: the feed never reads the table
    val read = TxTable.changesRows(spark, t, 1, 3).inputFiles.toSet
    val tableFiles = TxTable.history(spark, t)
      .flatMap(_.files).map(_.takeWhile(_ != '/')).toSet
    assert(read.forall(f => !tableFiles.exists(f.contains)),
      s"cdf read table data dirs: ${read.filter(f => tableFiles.exists(f.contains))}")
    // replaying the feed onto v1 reproduces v3 exactly
    val v1 = TxTable.readVersion(spark, t, 1)
    val f = TxTable.changesRows(spark, t, 1, 3)
    val removed = f.filter(col(TxTable.ChangeCol)
        .isin("update_preimage", "delete")).select("id", "v")
    val added = f.filter(col(TxTable.ChangeCol)
        .isin("update_postimage", "insert")).select("id", "v")
    val replayed = v1.exceptAll(removed).unionByName(added)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(replayed === rows(t), "replaying the feed onto v1 yields the head")
    // without cdf the feed is still total: bag-diff fallback per version
    TxTable.deleteWhere(spark, t, col("id") === 3L)
    assert(feed(3, 4) === Set((3L, "c", "delete", 4L)),
      "cdf-less commits fall back to the file-level bag diff")
    // compacts and appends in the window: zero rows / direct inserts
    TxTable.compact(spark, t)
    TxTable.append(spark, t, Seq((7L, "g")).toDF("id", "v"))
    assert(feed(4, 6) === Set((7L, "g", "insert", 6L)),
      "compact contributes nothing; an append IS its inserts")
    // vacuum never collects staged change files (they are log-reachable)
    TxTable.vacuum(spark, t, olderThanMs = -1)
    assert(feed(1, 2).size === 3, "cdf files survive vacuum")
  }

  test("non-atomic-claim schemes reject commits unless explicitly opted in") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3.impl", classOf[FakeS3FileSystem].getName)
    conf.setBoolean("fs.s3.impl.disable.cache", true)
    try {
      val t = "s3://" + fresh()
      // default: hard rejection naming the escape hatch
      val ex = intercept[IllegalArgumentException] {
        TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
      }
      assert(ex.getMessage.contains(TxTable.UnsafeNonAtomicCommitKey) &&
        ex.getMessage.contains("fork history"))
      // single-writer opt-in (the S3SingleDriverLogStore shape): the
      // same table path commits and reads back through the s3 scheme
      conf.setBoolean(TxTable.UnsafeNonAtomicCommitKey, true)
      TxTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      TxTable.append(spark, t, Seq((3L, "c")).toDF("id", "v"))
      assert(TxTable.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet ===
        Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally {
      conf.unset(TxTable.UnsafeNonAtomicCommitKey)
      conf.unset("fs.s3.impl")
    }
  }

  test("txtable data source: format read, time travel, filter-pushdown pruning") {
    import graft.api.TxTableSource
    val t = fresh()
    // clustered table with a bloom secondary index: both pruning paths
    // b = id*7: each b value lives in exactly one range-clustered file,
    // so a bloom probe CAN prune (an id%k residue would live in every
    // file and make pruning impossible by construction)
    TxTable.overwriteClustered(spark, t,
      spark.range(4096).select(col("id"), (col("id") * 7).as("b"),
        concat(lit("r"), col("id")).as("v")),
      "id", numFiles = 8, bloomCol = Some("b"))
    // head read equals the programmatic API
    val viaFormat = spark.read.format("txtable").load(t)
    assert(viaFormat.count() === 4096L)
    assert(viaFormat.schema.fieldNames.toSeq === Seq("id", "b", "v"))
    // Catalyst-pushed range filter prunes files FROM THE LOG
    val n = spark.read.format("txtable").load(t)
      .filter(col("id") >= 100L && col("id") <= 200L).count()
    assert(n === 101L)
    val keptRange = TxTableSource.lastScanFiles(t)
    assert(keptRange.nonEmpty && keptRange.size < 8,
      s"range pushdown must prune from the log: kept ${keptRange.size}/8")
    // pushed equality on the bloom column prunes too, exact rows back
    val rows = spark.read.format("txtable").load(t)
      .filter(col("b") === 42L).select("id").collect().map(_.getLong(0)).toSet
    assert(rows === Set(6L))
    assert(TxTableSource.lastScanFiles(t).size < 8,
      "bloom pushdown must prune from the log")
    // unrecognized predicates prune nothing but stay correct
    assert(spark.read.format("txtable").load(t)
      .filter(col("v") === "r42").count() === 1L)
    // time travel via option
    TxTable.deleteWhere(spark, t, col("id") < 2048L)
    assert(spark.read.format("txtable").load(t).count() === 2048L)
    assert(spark.read.format("txtable").option("versionAsOf", 1)
      .load(t).count() === 4096L, "versionAsOf reads the old snapshot")
    // SQL DDL surface: a USING txtable table is queryable in plain SQL
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW tx_src_view " +
      s"USING txtable OPTIONS (path '$t')")
    assert(spark.sql("SELECT count(*) FROM tx_src_view").head().getLong(0) === 2048L)
    // column pruning contract: empty projections still count rows
    assert(spark.read.format("txtable").load(t).select().count() === 2048L)
    // z-ordered tables prune through the SAME pushdown seam: pushed
    // conjunctions on either recorded dimension hit the mstats
    // rectangles
    val z = fresh()
    TxTable.overwriteZordered(spark, z,
      spark.range(4096).select((col("id") % 64).as("x"),
        (col("id") / 64).cast("long").as("y")), "x", "y", numFiles = 16)
    val corner = spark.read.format("txtable").load(z)
      .filter(col("x") <= 7L && col("y") <= 7L)
    assert(corner.count() === 64L)
    assert(TxTableSource.lastScanFiles(z).size < 16,
      "pushed 2-D box must prune z-ordered files from the log")
  }

  test("txtable source reads through the NATIVE parquet scan: pushdown + row-group skipping") {
    import graft.api.TxTableSource
    val t = fresh()
    // cluster stats on id only; w is deliberately NOT log-indexed, so a
    // w-predicate prunes ZERO files from the log — any cut in rows read
    // must come from the native parquet scan's footer pushdown (each
    // 512-row file is one row group with its own w min/max)
    TxTable.overwriteClustered(spark, t,
      spark.range(4096).select(col("id"), (col("id") + 1000000L).as("w")),
      "id", numFiles = 8)
    def recordsRead(action: => Unit): Long =
      graft.obs.SparkCounters.during(spark.sparkContext)(action)("input_records").toLong
    val full = recordsRead {
      assert(spark.read.format("txtable").load(t).count() === 4096L)
    }
    assert(full >= 4096L, s"baseline scan reads everything: $full")
    val sel = spark.read.format("txtable").load(t)
      .filter(col("w") >= 1000100L && col("w") <= 1000200L)
    val selective = recordsRead { assert(sel.count() === 101L) }
    // the log kept ALL files (w has no recorded stats)…
    assert(TxTableSource.lastScanFiles(t).size === 8,
      "w is not log-indexed; no file-level pruning expected")
    // …so the cut is the native scan's: 7 of 8 row groups footer-skipped
    assert(selective <= full / 4,
      s"native pushdown must row-group-skip: read $selective of $full rows")
    // the relation plans as Spark's NATIVE V2 parquet scan (no RDD[Row]
    // seam): vectorized parquet, predicates in PushedFilters, codegen above
    val plan = sel.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(plan.contains("BatchScan") && plan.contains("ParquetScan"),
      s"txtable must plan as a native parquet BatchScan:\n$plan")
    assert(plan.contains("PushedFilters") && !plan.contains("PushedFilters: []")
      && plan.contains("w"),
      s"the native scan must carry the pushed w-filters:\n$plan")
  }

  test("typed data-skipping: date/timestamp cluster columns prune through both paths") {
    import graft.api.TxTableSource
    val t = fresh()
    // 512 consecutive days from 2024-01-01, date-clustered into 8 files
    val days = spark.range(512).selectExpr(
      "id", "DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS d",
      "TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_interval(0,0,0,CAST(id AS INT),0,0,0) AS tn",
      "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,CAST(id AS INT),0,0,0) AS tz")
    TxTable.overwriteClustered(spark, t, days, "d", numFiles = 8)
    // programmatic typed path: java.sql.Date bounds
    val lo = java.sql.Date.valueOf("2024-02-01")
    val hi = java.sql.Date.valueOf("2024-02-29")
    val got = TxTable.readRangeOf(spark, t, "d", lo, hi)
    assert(got.count() === 29L)
    assert(got.agg(org.apache.spark.sql.functions.min("d"),
      org.apache.spark.sql.functions.max("d")).head() ===
      org.apache.spark.sql.Row(lo, hi))
    // the pruning really came from the log: a 29-day slice of a
    // 512-day/8-file table intersects 1 file (64 days each)
    val st = TxTable.snapshotState(spark, t, TxTable.latestVersion(spark, t))
    val keptLog = st.files.count { f =>
      val (flo, fhi) = st.stats(f)
      fhi >= lo.toLocalDate.toEpochDay && flo <= hi.toLocalDate.toEpochDay
    }
    assert(keptLog < 8, s"date range must prune files from the log: $keptLog/8")
    // registered-source path: pushed date predicates prune the same way
    val viaFormat = spark.read.format("txtable").load(t)
      .filter(col("d") >= lit(lo) && col("d") <= lit(hi))
    assert(viaFormat.count() === 29L)
    assert(TxTableSource.lastScanFiles(t).size === keptLog,
      "pushed date range and programmatic path must keep the SAME files")
    // timestamp (NTZ) cluster column: micros stats, LocalDateTime bound
    val t2 = fresh()
    TxTable.overwriteClustered(spark, t2, days, "tn", numFiles = 8)
    val nlo = java.time.LocalDateTime.of(2024, 2, 1, 0, 0)
    val nhi = java.time.LocalDateTime.of(2024, 2, 29, 0, 0)
    assert(TxTable.readRangeOf(spark, t2, "tn", nlo, nhi).count() === 29L)
    spark.read.format("txtable").load(t2)
      .filter(col("tn") >= lit(nlo) && col("tn") <= lit(nhi)).count()
    assert(TxTableSource.lastScanFiles(t2).size < 8,
      "pushed timestamp_ntz range must prune from the log")
    // timestamp (LTZ) cluster column: stage forces TIMESTAMP_MICROS so
    // footers carry usable stats (the INT96 default records none)
    val t3 = fresh()
    TxTable.overwriteClustered(spark, t3, days, "tz", numFiles = 8)
    val st3 = TxTable.snapshotState(spark, t3, TxTable.latestVersion(spark, t3))
    assert(st3.stats.size === st3.files.size,
      "LTZ timestamp cluster column must have per-file stats (INT96 has none)")
    val zlo = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val zhi = java.sql.Timestamp.valueOf("2024-02-29 00:00:00")
    assert(TxTable.readRangeOf(spark, t3, "tz", zlo, zhi).count() === 29L)
    spark.read.format("txtable").load(t3)
      .filter(col("tz").between(lit(zlo), lit(zhi))).count()
    assert(TxTableSource.lastScanFiles(t3).size < 8,
      "pushed timestamp range must prune from the log")
    // float cluster columns stay rejected: their stats are not
    // losslessly long-encodable and a wrong mapping DROPS files
    val bad = intercept[IllegalArgumentException] {
      TxTable.overwriteClustered(spark, fresh(),
        spark.range(4).selectExpr("CAST(id AS DOUBLE) AS x"), "x")
    }
    assert(bad.getMessage.contains("integral, date"))
  }

  test("string data-skipping: truncated bounds prune, never drop") {
    import graft.api.TxTableSource
    val t = fresh()
    // keys sorted by a string id; each of 8 files covers a contiguous
    // slice, and a LONG shared prefix (> 64 bytes with the suffix)
    // exercises the truncation path on every file bound
    val longPfx = "section/" + ("x" * 70) + "/"
    val rows = spark.range(512).selectExpr(
      s"concat('$longPfx', lpad(CAST(id AS STRING), 6, '0')) AS k", "id")
    TxTable.overwriteClustered(spark, t, rows, "k", numFiles = 8)
    val st = TxTable.snapshotState(spark, t, TxTable.latestVersion(spark, t))
    assert(st.sstats.size === 8, "every file gets truncated string bounds")
    // truncation semantics pinned per file: recorded lo <= every value,
    // recorded hi ("" = unbounded) >= every value, in unsigned byte order
    val cmp = (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b)
    val perFile = spark.read.parquet(st.files.map(f => s"$t/$f"): _*)
      .selectExpr("input_file_name() AS f", "k").collect()
      .groupBy(r => st.files.find(f => r.getString(0).endsWith(f)).get)
    perFile.foreach { case (f, rs) =>
      val (lo, hi) = st.sstats(f)
      val loB = java.util.Base64.getDecoder.decode(lo)
      rs.foreach { r =>
        val v = r.getString(1).getBytes("UTF-8")
        assert(cmp(loB, v) <= 0, s"lo bound must not exceed value in $f")
        if (hi.nonEmpty)
          assert(cmp(java.util.Base64.getDecoder.decode(hi), v) >= 0,
            s"hi bound must cover value in $f")
      }
    }
    // typed range over the truncated-bounds table: exact rows (the
    // shared > 64-byte prefix makes every file's truncated bounds
    // identical, so NO pruning is possible here — losing rows would be
    // the bug; selectivity under truncation is pinned below on short keys)
    val lo = longPfx + "000100"
    val hi = longPfx + "000200"
    assert(TxTable.readRangeOf(spark, t, "k", lo, hi).count() === 101L)
    assert(spark.read.format("txtable").load(t)
      .filter(col("k") >= lit(lo) && col("k") <= lit(hi)).count() === 101L)
    // SHORT keys (< 64 bytes): bounds stay exact, pruning is real
    val ts = fresh()
    TxTable.overwriteClustered(spark, ts,
      spark.range(512).selectExpr(
        "concat('k', lpad(CAST(id AS STRING), 6, '0')) AS k", "id"),
      "k", numFiles = 8)
    assert(TxTable.readRangeOf(spark, ts, "k", "k000100", "k000200")
      .count() === 101L)
    assert(spark.read.format("txtable").load(ts)
      .filter(col("k") >= lit("k000100") && col("k") <= lit("k000200"))
      .count() === 101L)
    val keptRange = TxTableSource.lastScanFiles(ts).size
    assert(keptRange < 8, s"string range must prune from the log: $keptRange/8")
    assert(spark.read.format("txtable").load(ts)
      .filter(col("k") === lit("k000042")).count() === 1L)
    assert(TxTableSource.lastScanFiles(ts).size === 1,
      "string equality must prune to the single covering file")
    // LIKE 'p%' prunes as the [p, incremented-p] range
    assert(spark.read.format("txtable").load(ts)
      .filter(col("k").startsWith("k0001")).count() === 100L)
    assert(TxTableSource.lastScanFiles(ts).size < 8,
      "prefix predicates must prune from the string bounds")
    // null-safe equality prunes like equality
    assert(spark.read.format("txtable").load(ts)
      .filter(col("k") <=> lit("k000042")).count() === 1L)
    assert(TxTableSource.lastScanFiles(ts).size === 1,
      "<=> with a non-null literal must prune like equality")
    // byte-order agreement with Spark's own string comparison on
    // non-ASCII (multi-byte UTF-8): what Spark keeps, pruning keeps
    val t2 = fresh()
    val uni = Seq("alpha", "zulu", "édition", "日本語", "ß-sharp", "Ω-omega")
      .toDF("k").withColumn("id", lit(1L))
    TxTable.overwriteClustered(spark, t2, uni, "k", numFiles = 3)
    val want = uni.filter(col("k") >= "z").collect().map(_.getString(0)).toSet
    val gotU = TxTable.readRangeOf(spark, t2, "k", "z", "￿￿")
      .collect().map(_.getString(0)).toSet
    assert(gotU === want, "unicode range must agree with Spark's comparison")
  }

  test("optimize: re-layout the live head in place; rewrites preserve typed stats") {
    import graft.api.TxTableSource
    val t = fresh()
    // plain (un-clustered) table: no pruning possible
    TxTable.overwrite(spark, t, spark.range(4096).selectExpr("id",
      "lpad(CAST(id AS STRING), 8, '0') AS k", "id * 3 AS w"))
    val before = TxTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // optimize to a STRING cluster: content identical, string pruning appears
    TxTable.optimize(spark, t, Seq("k"), numFiles = 8)
    assert(TxTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet === before)
    assert(spark.read.format("txtable").load(t)
      .filter(col("k") === "00000042").count() === 1L)
    assert(TxTableSource.lastScanFiles(t).size === 1,
      "optimize-to-string-cluster must enable single-file equality pruning")
    // a routine COMPACT must carry the string index forward (the stats
    // flavor follows the cluster column's type)
    TxTable.compact(spark, t, numFiles = 4)
    spark.read.format("txtable").load(t)
      .filter(col("k") === "00000042").count()
    assert(TxTableSource.lastScanFiles(t).size === 1,
      "compact must not erase truncated string bounds")
    // restore to the optimized version keeps the index too
    // (metadata-only re-reference carries sstats)
    TxTable.restore(spark, t, 2)
    spark.read.format("txtable").load(t)
      .filter(col("k") === "00000042").count()
    assert(TxTableSource.lastScanFiles(t).size === 1,
      "restore must re-reference the string bounds, not drop them")
    // optimize again to a 2-D Z-ORDER: content identical, box pruning
    TxTable.optimize(spark, t, Seq("id", "w"), numFiles = 16)
    assert(TxTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet === before)
    assert(TxTable.readBox(spark, t,
      Seq(("id", 0L, 63L), ("w", 0L, 189L))).count() === 64L)
    spark.read.format("txtable").load(t)
      .filter(col("id") <= 63L && col("w") <= 189L).count()
    assert(TxTableSource.lastScanFiles(t).size < 16,
      "optimize-to-zorder must enable box pruning")
    // racing append during optimize is never lost (conflict-safe loop
    // is the same claim-at-head+1 protocol as compact; sanity only)
    TxTable.append(spark, t, spark.range(4096, 4100).selectExpr("id",
      "lpad(CAST(id AS STRING), 8, '0') AS k", "id * 3 AS w"))
    assert(TxTable.read(spark, t).count() === 4100L)
    // time travel to the pre-optimize layout still reads
    assert(TxTable.readVersion(spark, t, 1).count() === 4096L)
  }

  test("optimize racing appends: the rewrite restarts on lost claims, no row lost") {
    val t = fresh()
    TxTable.overwrite(spark, t,
      spark.range(2000).selectExpr("id", "id * 2 AS w"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // appends race the optimize loop: any append landing between the
    // rewrite's snapshot read and its claim takes the claimed version,
    // the optimize loses the race and restages on the new head — a
    // blind overwrite would silently drop the racer's rows
    val appends = scala.concurrent.Future {
      (0 until 6).foreach { j =>
        TxTable.append(spark, t,
          Seq((100000L + j, (100000L + j) * 2)).toDF("id", "w"))
      }
    }
    val opt = scala.concurrent.Future {
      TxTable.optimize(spark, t, Seq("id"), numFiles = 4)
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(appends.map(_ => 0L), opt)),
      scala.concurrent.duration.Duration(180, "s"))
    pool.shutdown()
    assert(TxTable.read(spark, t).count() === 2006L,
      "every racing append survives the in-place re-layout")
    assert(TxTable.history(spark, t).exists(_.op.contains("optimize")),
      "the optimize commit landed despite the races")
    // the re-layout's pruning works on whatever head it captured
    assert(TxTable.readRangeOf(spark, t, "id", 0L, 63L).count() === 64L)
  }

  test("temporal z-order: (event_date, user_id) prunes typed boxes; rewrites preserve it") {
    import graft.api.TxTableSource
    val t = fresh()
    // a 64-day x 64-user grid: every (d, uid) cell exactly once
    val df = spark.range(4096).selectExpr(
      "DATE_ADD(DATE'2024-01-01', CAST(id % 64 AS INT)) AS d",
      "CAST(id div 64 AS BIGINT) AS uid")
    TxTable.overwriteZordered(spark, t, df, Seq("d", "uid"),
      numFiles = 16, bits = 0)
    // typed box: first 8 days x first 8 users = 64 cells, pruned reads
    val lo = java.sql.Date.valueOf("2024-01-01")
    val hi = java.sql.Date.valueOf("2024-01-08")
    val got = TxTable.readBoxOf(spark, t,
      Seq(("d", lo, hi), ("uid", 0L, 7L)))
    assert(got.count() === 64L)
    assert(got.inputFiles.length < 16,
      s"typed box must prune z-ordered files: ${got.inputFiles.length}/16")
    // the pushed path prunes the same way: a date + long conjunction
    assert(spark.read.format("txtable").load(t)
      .filter(col("d").between(lit(lo), lit(hi)) && col("uid") <= 7L)
      .count() === 64L)
    assert(TxTableSource.lastScanFiles(t).size < 16,
      "pushed date+long box must prune from the log")
    // a subset box on the TEMPORAL dimension alone prunes too
    assert(TxTable.readBoxOf(spark, t, Seq(("d", lo, hi))).count() === 512L)
    // compact re-lays-out through the SAME temporal encoding (the
    // rewrite path used to require long dims) and keeps pruning alive
    TxTable.compact(spark, t, numFiles = 8)
    assert(TxTable.read(spark, t).count() === 4096L)
    val after = TxTable.readBoxOf(spark, t,
      Seq(("d", lo, hi), ("uid", 0L, 7L)))
    assert(after.count() === 64L)
    assert(after.inputFiles.length < 8,
      "compact must preserve temporal z-order pruning")
    // optimize can re-layout ONTO a temporal z-order in place
    val t2 = fresh()
    TxTable.overwrite(spark, t2, df)
    TxTable.optimize(spark, t2, Seq("d", "uid"), numFiles = 16)
    val opt = TxTable.readBoxOf(spark, t2,
      Seq(("d", lo, hi), ("uid", 0L, 7L)))
    assert(opt.count() === 64L && opt.inputFiles.length < 16)
  }

  test("string bounds and evolved schema resolve from a CHECKPOINT alone") {
    val t = fresh()
    TxTable.overwriteClustered(spark, t,
      spark.range(512).selectExpr(
        "concat('k', lpad(CAST(id AS STRING), 6, '0')) AS k", "id"),
      "k", numFiles = 8)
    // cross the checkpoint cadence (v10) with tiny appends, one of them
    // an evolveAppend so the widened schema must ride the checkpoint too
    (2 to 9).foreach(i => TxTable.append(spark, t,
      Seq((f"x$i%06d", 1000L + i)).toDF("k", "id")))
    TxTable.evolveAppend(spark, t,
      Seq(("x000010", 1010L, 7L)).toDF("k", "id", "extra")) // v10 = checkpoint
    // delete every commit record BELOW the checkpoint: the fold must
    // come from checkpoint + tail, so any metadata the checkpoint
    // dropped (sstats, schemaB64) would vanish here
    (1 to TxTable.CheckpointEvery - 1).foreach { v =>
      val f = new java.io.File(f"$t/_txlog/$v%020d.json")
      assert(f.delete(), s"test setup: removed commit $v")
    }
    val st = TxTable.snapshotState(spark, t, TxTable.latestVersion(spark, t))
    assert(st.sstats.size === 8,
      "the checkpoint must carry the per-file string bounds")
    assert(st.schemaB64.nonEmpty,
      "the checkpoint must carry the evolved schema")
    assert(TxTable.read(spark, t).schema.fieldNames.toSeq ===
      Seq("k", "id", "extra"))
    val got = TxTable.readRangeOf(spark, t, "k", "k000100", "k000100")
    assert(got.count() === 1L)
    // pruning from the checkpointed bounds: the 8 clustered files
    // minus 7 pruned, plus the 9 statless append files always kept
    assert(got.inputFiles.length === 1 + 9,
      s"checkpoint-resolved bounds must still prune: ${got.inputFiles.length}")
  }

  test("evolveAppend: additive schema evolution, time travel keeps old shapes") {
    import org.apache.spark.sql.functions.{sum => fsum}
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // new column lands; old files read back with it null-filled
    TxTable.evolveAppend(spark, t,
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v", "score"))
    val head = TxTable.read(spark, t).orderBy("id")
    assert(head.schema.fieldNames.toSeq === Seq("id", "v", "score"))
    assert(head.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSeq === Seq((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L), (4L, "d", 40L)))
    // time travel BEFORE the evolution reads the old schema exactly
    assert(TxTable.readVersion(spark, t, 1).schema.fieldNames.toSeq ===
      Seq("id", "v"))
    // the registered source sees the widened schema and null-fills too
    val viaFormat = spark.read.format("txtable").load(t)
    assert(viaFormat.schema.fieldNames.toSeq === Seq("id", "v", "score"))
    assert(viaFormat.agg(fsum("score")).head().getLong(0) === 70L)
    // a subset evolveAppend (missing columns) lands with them null
    TxTable.evolveAppend(spark, t, Seq(Tuple1(5L)).toDF("id"))
    val r5 = TxTable.read(spark, t).filter(col("id") === 5L).head()
    assert(r5.isNullAt(1) && r5.isNullAt(2))
    // type changes reject loudly, additive-only
    val bad = intercept[IllegalArgumentException] {
      TxTable.evolveAppend(spark, t, Seq((6L, 99L)).toDF("id", "v"))
    }
    assert(bad.getMessage.contains("additive-only"))
    // post-evolution plain appends must present the WIDENED schema
    val strict = intercept[IllegalArgumentException] {
      TxTable.append(spark, t, Seq((7L, "g")).toDF("id", "v"))
    }
    assert(strict.getMessage.contains("schema mismatch"))
    TxTable.append(spark, t, Seq((7L, "g", 70L)).toDF("id", "v", "score"))
    assert(TxTable.read(spark, t).count() === 6L)
    // row-level CDF across the evolution boundary: early batches
    // null-fill the added column, every insert accounted once
    val feed = TxTable.changesRows(spark, t, 0, TxTable.latestVersion(spark, t))
    assert(feed.schema.fieldNames.contains("score"))
    assert(feed.filter(col("_change") === "insert").count() === 6L)
    // compact materializes the widened shape; content identical
    TxTable.compact(spark, t, numFiles = 2)
    assert(TxTable.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L, 4L, 5L, 7L))
    // an overwrite RESETS evolution: fresh schema from its own files
    TxTable.overwrite(spark, t, Seq((9L, 1.5)).toDF("id", "x"))
    assert(TxTable.read(spark, t).schema.fieldNames.toSeq === Seq("id", "x"))
    // the folded schema survives a checkpoint boundary (10+ commits)
    val t2 = fresh()
    TxTable.overwrite(spark, t2, Seq(Tuple1(1L)).toDF("id"))
    TxTable.evolveAppend(spark, t2, Seq((2L, "w")).toDF("id", "tag"))
    (3L to 12L).foreach(i => TxTable.append(spark, t2,
      Seq((i, s"t$i")).toDF("id", "tag")))
    assert(TxTable.latestVersion(spark, t2) === 12L)
    assert(TxTable.read(spark, t2).schema.fieldNames.toSeq === Seq("id", "tag"))
    assert(TxTable.read(spark, t2).filter(col("tag").isNull).count() === 1L)
  }

  test("write.format(txtable): SaveModes map onto transactional verbs") {
    val t = fresh()
    def w(df: org.apache.spark.sql.DataFrame) = df.write.format("txtable")
    // first Append creates (v1); second appends (v2)
    w(Seq((1L, "a")).toDF("id", "v")).mode("append").save(t)
    w(Seq((2L, "b")).toDF("id", "v")).mode("append").save(t)
    assert(rows(t) === Set((1L, "a"), (2L, "b")))
    assert(TxTable.latestVersion(spark, t) === 2L)
    // txn option: redelivered append lands nothing twice
    w(Seq((3L, "c")).toDF("id", "v")).mode("append").option("txn", "w:1").save(t)
    w(Seq((3L, "c")).toDF("id", "v")).mode("append").option("txn", "w:1").save(t)
    assert(TxTable.read(spark, t).count() === 3L)
    assert(TxTable.latestVersion(spark, t) === 3L)
    // evolve option: additive schema evolution through the writer
    w(Seq((4L, "d", 40L)).toDF("id", "v", "score"))
      .mode("append").option("evolve", "true").save(t)
    assert(spark.read.format("txtable").load(t).schema.fieldNames.toSeq ===
      Seq("id", "v", "score"))
    // overwrite replaces; history intact
    w(Seq((9L, "z")).toDF("id", "v")).mode("overwrite").save(t)
    assert(rows(t) === Set((9L, "z")))
    assert(TxTable.readVersion(spark, t, 3).count() === 3L)
    // errorifexists / ignore consult the log's head
    intercept[IllegalStateException] {
      w(Seq((1L, "x")).toDF("id", "v")).mode("errorifexists").save(t)
    }
    w(Seq((1L, "x")).toDF("id", "v")).mode("ignore").save(t) // no-op
    assert(rows(t) === Set((9L, "z")))
    val t2 = fresh()
    w(Seq((1L, "x")).toDF("id", "v")).mode("ignore").save(t2) // creates
    assert(rows(t2) === Set((1L, "x")))
  }

  test("writeStream.format(txtable): exactly-once sink across checkpoint redelivery") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("txsink").toString
    val t = s"$base/table"
    (0 until 3).foreach(i =>
      spark.range(i * 10, i * 10 + 10).select(col("id"),
          concat(lit("r"), col("id")).as("v"))
        .coalesce(1).write.parquet(s"$base/src/s$i"))
    val sch = spark.read.parquet(s"$base/src/s0").schema
    def run(ck: String): Unit = {
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src/s*")
        .writeStream.format("txtable")
        .option("appId", "sinktest")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start(t)
      q.awaitTermination()
    }
    run(s"$base/ck1")
    assert(TxTable.read(spark, t).count() === 30L)
    // a FRESH checkpoint redelivers every batch with the same batch
    // ids: the txn markers in the log absorb all of them
    run(s"$base/ck2")
    assert(TxTable.read(spark, t).count() === 30L,
      "redelivered micro-batches land nothing twice")
    // non-append output mode rejects at sink construction
    val bad = intercept[Exception] {
      spark.readStream.schema(sch).parquet(s"$base/src/s*")
        .groupBy("v").count()
        .writeStream.format("txtable")
        .outputMode("complete")
        .option("checkpointLocation", s"$base/ck3")
        .trigger(Trigger.AvailableNow()).start(s"$base/t2")
    }
    assert(bad.getMessage.toLowerCase.contains("append"))
  }

  test("streaming pipe: change-feed source -> txtable sink, incremental and exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("txpipe").toString
    val up = s"$base/up"; val down = s"$base/down"
    TxTable.overwrite(spark, up, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    TxTable.append(spark, up, Seq((3L, "c")).toDF("id", "v"))
    def run(): Unit = {
      val q = spark.readStream.format("txtable").load(up)
        .filter(col(TxTable.ChangeCol) === "insert")
        .select("id", "v", TxTable.VersionCol)
        .writeStream.format("txtable")
        .option("appId", "pipe")
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow()).start(down)
      q.awaitTermination()
    }
    run()
    val first = TxTable.read(spark, down).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(first === Set((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L)),
      "the feed serves creation + append inserts with their versions")
    // no new upstream commits: a re-run produces NO batch, lands nothing
    run()
    assert(TxTable.read(spark, down).count() === 3L)
    assert(TxTable.latestVersion(spark, down) === 1L,
      "an empty window must not even commit")
    // incremental: one upstream append -> exactly its delta downstream
    TxTable.append(spark, up, Seq((4L, "d")).toDF("id", "v"))
    run()
    assert(TxTable.read(spark, down).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet ===
      Set((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L)))
    // a row-level delete flows as a 'delete' change row (filtered out
    // by this pipe's insert-only projection, so downstream is stable)
    TxTable.deleteWhere(spark, up, col("id") === 1L, cdf = true)
    run()
    assert(TxTable.read(spark, down).count() === 4L,
      "delete change rows are visible to the feed but filtered here")
    // startingVersion skips history: a fresh reader from version 2 on
    val later = spark.readStream.format("txtable")
      .option("startingVersion", "2").load(up)
      .writeStream.format("memory").queryName("tx_pipe_later")
      .option("checkpointLocation", s"$base/ck2")
      .trigger(Trigger.AvailableNow()).start()
    later.awaitTermination()
    val lv = spark.sql("SELECT _version FROM tx_pipe_later")
      .collect().map(_.getLong(0)).toSet
    assert(lv.nonEmpty && !lv.contains(1L) && !lv.contains(2L) && lv.contains(3L),
      s"startingVersion=2 must serve only versions > 2, got $lv")
  }

  test("pollChanges: durable-cursor incremental consumption, redelivery, idempotent ack") {
    val t = fresh()
    val cursor = java.nio.file.Files
      .createTempDirectory("txcursor").toString + "/c"
    TxTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // first poll: everything since the beginning
    val p1 = TxTable.pollChanges(spark, t, cursor)
    assert((p1.fromVersion, p1.toVersion) === (0L, 1L))
    assert(p1.changes.select("id", TxTable.ChangeCol).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "insert"), (2L, "insert")))
    // NOT acked: the same window re-delivers (the crash-recovery path)
    val p1again = TxTable.pollChanges(spark, t, cursor)
    assert((p1again.fromVersion, p1again.toVersion) === (0L, 1L))
    p1.ack()
    p1again.ack() // duplicate ack of the same head: a no-op
    // acked: the next poll is an empty window at the same head
    val p2 = TxTable.pollChanges(spark, t, cursor)
    assert((p2.fromVersion, p2.toVersion) === (1L, 1L))
    assert(p2.changes.count() === 0L)
    p2.ack() // empty-window ack writes nothing
    // new commits: only the increment arrives
    TxTable.append(spark, t, Seq((3L, "c")).toDF("id", "v"))
    TxTable.deleteWhere(spark, t, col("id") === 1L, cdf = true)
    val p3 = TxTable.pollChanges(spark, t, cursor)
    assert((p3.fromVersion, p3.toVersion) === (1L, 3L))
    assert(p3.changes.select("id", TxTable.ChangeCol, TxTable.VersionCol)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ===
      Set((3L, "insert", 2L), (1L, "delete", 3L)))
    p3.ack()
    assert(TxTable.pollChanges(spark, t, cursor).changes.count() === 0L)
  }

  test("pollChanges: consumer-group semantics, stale cursor, marker vacuum") {
    val t = fresh()
    val cursor = java.nio.file.Files
      .createTempDirectory("txcursor").toString + "/c"
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    // TWO pollers on ONE cursorDir = one consumer group: both read the
    // same window (duplicate PROCESSING — the documented contract),
    // both acks land idempotently
    val a = TxTable.pollChanges(spark, t, cursor)
    val b = TxTable.pollChanges(spark, t, cursor)
    assert((a.fromVersion, a.toVersion) === (b.fromVersion, b.toVersion))
    assert(a.changes.count() === 1L && b.changes.count() === 1L)
    a.ack(); b.ack()
    assert(TxTable.pollChanges(spark, t, cursor).changes.count() === 0L)
    // marker vacuum: three acked heads leave three markers; vacuum
    // keeps only the newest and the cursor still reads the same
    TxTable.append(spark, t, Seq((2L, "b")).toDF("id", "v"))
    TxTable.pollChanges(spark, t, cursor).ack()
    TxTable.append(spark, t, Seq((3L, "c")).toDF("id", "v"))
    TxTable.pollChanges(spark, t, cursor).ack()
    def markers() = new java.io.File(cursor).listFiles()
      .count(_.getName.endsWith(".ack"))
    assert(markers() === 3)
    assert(TxTable.vacuumCursor(spark, cursor) === 2)
    assert(markers() === 1)
    val after = TxTable.pollChanges(spark, t, cursor)
    assert((after.fromVersion, after.toVersion) === (3L, 3L))
    // stale cursor (table wiped + rebuilt, cursor survives): a
    // dedicated error naming the cause, not changesRows' precondition
    graft.api.Dedup.hadoopFs(spark, t)
      .delete(new org.apache.hadoop.fs.Path(t), true)
    TxTable.overwrite(spark, t, Seq((9L, "z")).toDF("id", "v"))
    val stale = intercept[IllegalStateException] {
      TxTable.pollChanges(spark, t, cursor)
    }
    assert(stale.getMessage.contains("re-created") &&
      stale.getMessage.contains("cursor"))
  }

  test("expireHistory: retention truncates time travel; vacuum collects expired bytes, never live ones") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))          // v1
    TxTable.append(spark, t, Seq((2L, "b")).toDF("id", "v"),
      txn = Some("boot:1"))                                              // v2
    TxTable.compact(spark, t)                                            // v3 (v1/v2 files dead)
    TxTable.append(spark, t, Seq((3L, "c")).toDF("id", "v"))             // v4
    TxTable.append(spark, t, Seq((4L, "d")).toDF("id", "v"))             // v5
    val liveBefore = TxTable.read(spark, t).inputFiles.toSet
    // keep the last 2 versions: cutoff = 4, records v1..v3 expire
    assert(TxTable.expireHistory(spark, t, keepVersions = 2) === 3)
    assert(TxTable.expireHistory(spark, t, keepVersions = 2) === 0,
      "idempotent: nothing left below the cutoff")
    // head and time travel at/above the cutoff are untouched — they
    // resolve from the cutoff checkpoint alone
    assert(TxTable.read(spark, t).collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L, 4L))
    assert(TxTable.readVersion(spark, t, 4).count() === 3L)
    assert(TxTable.read(spark, t).inputFiles.toSet === liveBefore)
    // below the cutoff: the standard loud error
    intercept[IllegalArgumentException] {
      TxTable.readVersion(spark, t, 3).count()
    }
    // txn idempotence SURVIVES expiry (the cutoff checkpoint carries
    // the cumulative txn set): a redelivery of the expired commit's
    // txn still lands nothing
    // (the returned version is the CHECKPOINT's — the original landing
    // version is exactly what expiry forgot; the no-op is the contract)
    assert(TxTable.append(spark, t, Seq((99L, "dup")).toDF("id", "v"),
      txn = Some("boot:1")) <= 5L, "the expired txn still answers no-op")
    assert(TxTable.read(spark, t).count() === 4L,
      "a redelivered expired txn lands nothing")
    assert(TxTable.latestVersion(spark, t) === 5L)
    // the change feed refuses a cursor behind the retention horizon…
    val lag = intercept[IllegalStateException] {
      TxTable.changesRows(spark, t, 0, 5)
    }
    assert(lag.getMessage.contains("re-bootstrap"))
    // …and continues exactly at it
    assert(TxTable.changesRows(spark, t, 3, 5)
      .filter(col(TxTable.ChangeCol) === "insert").count() === 2L)
    // vacuum: the pre-compact files' ONLY references were expired —
    // collectable; the compacted file is LIVE but its adding record
    // (v3) was expired too, so only the cutoff CHECKPOINT still names
    // it — the widened reachability must protect it
    assert(TxTable.vacuum(spark, t, olderThanMs = 0) >= 1,
      "the expired versions' exclusive stagings are collectable")
    assert(TxTable.read(spark, t).collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L, 4L),
      "vacuum after expiry must never touch checkpoint-referenced live files")
    assert(TxTable.readVersion(spark, t, 4).count() === 3L)
  }

  test("a gapped log (crashed expiry) reads loudly below the gap, never a wrong snapshot") {
    // no checkpoint floors the fold: ANY read across the gap refuses —
    // a silent fold would serve the head missing the gap's rows
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    (2L to 4L).foreach(i =>
      TxTable.append(spark, t, Seq((i, s"r$i")).toDF("id", "v")))
    assert(new java.io.File(s"$t/_txlog/00000000000000000002.json").delete())
    val e = intercept[IllegalArgumentException] {
      TxTable.read(spark, t).count()
    }
    assert(e.getMessage.contains("missing from the log") &&
      e.getMessage.contains("2"), e.getMessage)

    // the REAL crashed-expiry shape: the cutoff checkpoint always lands
    // BEFORE any deletion, so reads at/above it keep working through
    // the crash, reads below it are loud, and RE-RUNNING expireHistory
    // finishes the truncation (never needs to fold across the gap)
    val t2 = fresh()
    TxTable.overwrite(spark, t2, Seq((1L, "a")).toDF("id", "v"))
    (2L to 12L).foreach(i =>
      TxTable.append(spark, t2, Seq((i, s"r$i")).toDF("id", "v")))
    // natural checkpoint at v10; a "crash" deleted one record below it
    assert(new java.io.File(s"$t2/_txlog/00000000000000000002.json").delete())
    assert(TxTable.read(spark, t2).count() === 12L,
      "reads floored by the checkpoint never see the gap")
    val below = intercept[IllegalArgumentException] {
      TxTable.readVersion(spark, t2, 9).count()
    }
    assert(below.getMessage.contains("missing from the log"))
    // finish the expiry: cutoff 10 = the existing checkpoint — the
    // stranded records 1,3..9 (8 of them) go without any gapped fold
    assert(TxTable.expireHistory(spark, t2, keepVersions = 3) === 8)
    assert(TxTable.read(spark, t2).count() === 12L)
    assert(TxTable.readVersion(spark, t2, 10).count() === 10L,
      "the cutoff version resolves from the checkpoint alone")
    intercept[IllegalArgumentException] {
      TxTable.readVersion(spark, t2, 9).count() // now the standard error
    }
    // the registered source's versionAsOf below the horizon names the
    // RETENTION cause, never a crashed-expiry gap
    val asOf = intercept[IllegalArgumentException] {
      spark.read.format("txtable").option("versionAsOf", 5).load(t2).count()
    }
    assert(asOf.getMessage.contains("retention horizon"), asOf.getMessage)
  }

  test("streaming source: maxVersionsPerTrigger bounds each micro-batch to a version window") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("txrate").toString
    val up = s"$base/up"; val down = s"$base/down"
    TxTable.overwrite(spark, up, Seq((1L, "a")).toDF("id", "v"))
    TxTable.append(spark, up, Seq((2L, "b")).toDF("id", "v"))
    TxTable.append(spark, up, Seq((3L, "c")).toDF("id", "v"))
    def run(): Unit = {
      val q = spark.readStream.format("txtable")
        .option("maxVersionsPerTrigger", "1").load(up)
        .select("id", "v")
        .writeStream.format("txtable")
        .option("appId", "rated")
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow()).start(down)
      q.awaitTermination()
    }
    run()
    assert(TxTable.read(spark, down).select("id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // ONE commit-version of feed per micro-batch: three upstream
    // commits arrive as three sink appends, not one backlog batch
    assert(TxTable.latestVersion(spark, down) === 3L,
      "a 3-commit backlog must land as 3 rate-limited batches")
    // restart continues capped from the checkpoint: two more upstream
    // commits = exactly two more batches, nothing re-served
    TxTable.append(spark, up, Seq((4L, "d")).toDF("id", "v"))
    TxTable.append(spark, up, Seq((5L, "e")).toDF("id", "v"))
    run()
    assert(TxTable.read(spark, down).count() === 5L,
      "no duplicates across the rate-limited restart")
    assert(TxTable.latestVersion(spark, down) === 5L)
  }

  test("pollChanges: NAMED consumer groups keep independent cursors and vacuums") {
    val t = fresh()
    val cursor = java.nio.file.Files
      .createTempDirectory("txgroups").toString + "/c"
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    // group "audit" consumes and acks window (0,1]; group "index" has
    // its own cursor and still sees the window afterward
    val a1 = TxTable.pollChanges(spark, t, cursor, "audit")
    assert(a1.changes.count() === 1L); a1.ack()
    assert(TxTable.pollChanges(spark, t, cursor, "audit")
      .changes.count() === 0L)
    val i1 = TxTable.pollChanges(spark, t, cursor, "index")
    assert((i1.fromVersion, i1.toVersion) === (0L, 1L),
      "another group's ack must not advance this group's cursor")
    assert(i1.changes.count() === 1L); i1.ack()
    // both advance independently over the next commit
    TxTable.append(spark, t, Seq((2L, "b")).toDF("id", "v"))
    val a2 = TxTable.pollChanges(spark, t, cursor, "audit")
    assert((a2.fromVersion, a2.toVersion) === (1L, 2L)); a2.ack()
    // per-group vacuum sweeps only its own markers
    assert(TxTable.vacuumCursor(spark, cursor, "audit") === 1)
    def markers(g: String) = new java.io.File(s"$cursor/$g").listFiles()
      .count(_.getName.endsWith(".ack"))
    assert(markers("audit") === 1 && markers("index") === 1)
    val i2 = TxTable.pollChanges(spark, t, cursor, "index")
    assert((i2.fromVersion, i2.toVersion) === (1L, 2L),
      "the other group's vacuum must leave this cursor intact")
    // group names that would escape the cursor directory reject
    intercept[IllegalArgumentException] {
      TxTable.pollChanges(spark, t, cursor, "../escape")
    }
  }

  test("bloom positions: the driver probe replays the executor hash exactly") {
    // the reader derives positions with XXH64 on the driver while the
    // writer derives them with the xxhash64 expression on executors —
    // one drifted constant means silent false negatives, so pin the
    // two paths bit-equal over a value sweep
    val bits = 4096
    val vals = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue, 123456789L)
    val viaExpr = spark.createDataset(vals).toDF("v")
      .select(col("v"), posexplode(array((0 until TxTable.BloomHashes).map(i =>
        pmod(xxhash64(col("v"), lit(i.toLong)), lit(bits))): _*)))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2).toInt).toMap
    for (v <- vals; i <- 0 until TxTable.BloomHashes)
      assert(TxTable.bloomPosition(v, i.toLong, bits) === viaExpr((v, i)),
        s"hash divergence for v=$v i=$i")
  }

  test("file-level merge: an upsert into one cluster carries every other file by NAME") {
    val t = fresh()
    TxTable.overwriteClustered(spark, t,
      spark.range(4096).selectExpr("id", "CAST(id AS STRING) AS v"),
      "id", numFiles = 8)
    val before = TxTable.readVersion(spark, t, 1).inputFiles.toSet
    assert(before.size === 8)
    // keys 100..119 live in ONE 512-wide cluster file: the other seven
    // files provably hold no matched key and must be re-referenced, not
    // rewritten (same absolute file path in the new snapshot)
    val updates = spark.range(100, 120)
      .selectExpr("id", "concat('u', CAST(id AS STRING)) AS v")
    TxTable.merge(spark, t, updates, Seq("id"))
    val after = TxTable.read(spark, t).inputFiles.toSet
    val carried = before.intersect(after)
    assert(carried.size === 7,
      s"exactly the 7 untouched cluster files carry by name, got ${carried.size}")
    // upsert semantics are bit-identical to the full rewrite
    val got = TxTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 4096)
    assert((0L until 4096L).forall(i =>
      got(i) == (if (i >= 100 && i < 120) s"u$i" else s"$i")))
    // the carried files kept their recorded ranges AND the rewritten
    // candidate landed fresh ones: range pruning still works end to end
    assert(TxTable.readRangeOf(spark, t, "id", 0L, 63L).count() === 64L)
    assert(TxTable.readRangeOf(spark, t, "id", 0L, 63L)
      .inputFiles.length < 8, "range pruning survives the file-level merge")
    assert(TxTable.readRangeOf(spark, t, "id", 100L, 119L).collect()
      .map(_.getString(1)).forall(_.startsWith("u")))
  }

  test("merge rewrites only files that HOLD a matched key: exact, spanning, unindexed, over-cap") {
    // exact scan beats the metadata box: keys {0, 4095} span the whole
    // table's key range (min/max candidates = every file) but live in
    // exactly two files — only those rewrite
    val t = fresh()
    TxTable.overwriteClustered(spark, t,
      spark.range(4096).selectExpr("id", "CAST(id AS STRING) AS v"),
      "id", numFiles = 8)
    val before = TxTable.readVersion(spark, t, 1).inputFiles.toSet
    TxTable.merge(spark, t,
      Seq((0L, "u0"), (4095L, "u4095")).toDF("id", "v"), Seq("id"))
    val after = TxTable.read(spark, t).inputFiles.toSet
    assert(before.intersect(after).size === before.size - 2,
      "a sparse spanning upsert rewrites its two files, not the box")
    val got = TxTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 4096 && got(0L) === "u0" && got(4095L) === "u4095" &&
      got(2000L) === "2000")
    // UNINDEXED table: no stats/blooms at all, the exact scan alone
    // bounds the rewrite to the one file holding the matched key
    val t2 = fresh()
    TxTable.overwrite(spark, t2,
      spark.range(4096).selectExpr("id", "CAST(id AS STRING) AS v")
        .repartition(4))
    val before2 = TxTable.readVersion(spark, t2, 1).inputFiles.toSet
    assert(before2.size === 4)
    TxTable.merge(spark, t2, Seq((7L, "u7")).toDF("id", "v"), Seq("id"))
    val after2 = TxTable.read(spark, t2).inputFiles.toSet
    assert(before2.intersect(after2).size === 3,
      "an unindexed merge still carries the three unmatched files by name")
    assert(TxTable.read(spark, t2).count() === 4096L)
    // OVER-CAP update set (> MergeBloomProbeCap distinct keys): the
    // bloom probe is skipped but the exact scan still bounds the
    // rewrite to the files whose ranges hold matched keys
    assert(TxTable.MergeBloomProbeCap === 65536)
    val t3 = fresh()
    TxTable.overwriteClustered(spark, t3,
      spark.range(200000).selectExpr("id", "CAST(id AS STRING) AS v"),
      "id", numFiles = 8, bloomCol = Some("id"))
    val before3 = TxTable.readVersion(spark, t3, 1).inputFiles.toSet
    TxTable.merge(spark, t3,
      spark.range(100000, 170001)
        .selectExpr("id", "concat('u', CAST(id AS STRING)) AS v"),
      Seq("id"))
    val after3 = TxTable.read(spark, t3).inputFiles.toSet
    assert(before3.intersect(after3).size >= 3,
      s"files outside the 70001-key window carry by name, carried " +
        s"${before3.intersect(after3).size}/${before3.size}")
    val head3 = TxTable.read(spark, t3)
    assert(head3.count() === 200000L)
    assert(head3.filter(col("id") === 150000L).select("v").collect()
      .head.getString(0) === "u150000")
    assert(head3.filter(col("id") === 50000L).select("v").collect()
      .head.getString(0) === "50000")
  }

  test("file-level merge: cdf images and bloom-probed candidates stay exact") {
    val t = fresh()
    // clustered by k, bloom-indexed on id (the MERGE key): candidates
    // come from the bloom probe of the update keys, not the cluster
    val df = spark.range(4096).selectExpr(
      "id div 512 AS k", "id", "CAST(id AS STRING) AS v")
    TxTable.overwriteClustered(spark, t, df, "k", numFiles = 8,
      bloomCol = Some("id"))
    val before = TxTable.readVersion(spark, t, 1).inputFiles.toSet
    val updates = Seq((0L, 700L, "u700"), (1L, 701L, "u701"),
      (9L, 99999L, "new")).toDF("k", "id", "v")
    TxTable.merge(spark, t, updates, Seq("id"), cdf = true)
    val after = TxTable.read(spark, t).inputFiles.toSet
    assert(before.intersect(after).size >= 6,
      "bloom-excluded files carry by name (700/701 live in one file)")
    // content: exact upsert
    val got = TxTable.read(spark, t).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size === 4097)
    assert(got(700L) === "u700" && got(701L) === "u701" &&
      got(99999L) === "new" && got(702L) === "702")
    // cdf staged from the candidate subset is still the full image set
    val ch = TxTable.changesRows(spark, t, 1, 2)
      .select(TxTable.ChangeCol, "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ch === Set(("update_preimage", 700L), ("update_preimage", 701L),
      ("update_postimage", 700L), ("update_postimage", 701L),
      ("insert", 99999L)),
      s"file-level cdf must record exactly both update images + the insert: $ch")
    // bloom point lookups still prune after the carry (bits unchanged)
    assert(TxTable.readPoints(spark, t, "id", Seq(700L)).count() === 1L)
    assert(TxTable.readPoints(spark, t, "id", Seq(700L))
      .inputFiles.length < 9, "bloom pruning survives the file-level merge")
  }

  test("file-level merge prunes candidates on a Z-ORDERED head via its rectangles") {
    val t = fresh()
    // a 64x64 grid z-ordered by (a, b): every (a, b) cell exactly once,
    // so a corner-box update set must rewrite only the corner's files
    val df = spark.range(4096).selectExpr(
      "id % 64 AS a", "id div 64 AS b", "CAST(id AS STRING) AS v")
    TxTable.overwriteZordered(spark, t, df, Seq("a", "b"),
      numFiles = 16, bits = 0)
    val before = TxTable.readVersion(spark, t, 1).inputFiles.toSet
    val updates = spark.range(16).selectExpr(
      "id % 4 AS a", "id div 4 AS b", "concat('u', CAST(id AS STRING)) AS v")
    TxTable.merge(spark, t, updates, Seq("a", "b"))
    val after = TxTable.read(spark, t).inputFiles.toSet
    assert(before.intersect(after).size >= 12,
      s"files whose z-rectangles exclude the [0,3]x[0,3] corner carry " +
        s"by name, carried ${before.intersect(after).size}/16")
    val got = TxTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(got.size === 4096)
    assert(got((2L, 3L)) === "u14" && got((5L, 5L)) === (5L + 5L * 64L).toString,
      "corner cells updated, everything else verbatim")
    // box pruning still works over the carried + fresh rectangles
    assert(TxTable.readBox(spark, t,
      Seq(("a", 60L, 63L), ("b", 60L, 63L))).count() === 16L)
  }

  test("file-level deleteWhere: a bounded predicate rewrites only candidate files") {
    val t = fresh()
    TxTable.overwriteClustered(spark, t,
      spark.range(4096).selectExpr("id", "CAST(id AS STRING) AS v"),
      "id", numFiles = 8)
    val before = TxTable.readVersion(spark, t, 1).inputFiles.toSet
    TxTable.deleteWhere(spark, t, col("id").between(100, 120), cdf = true)
    val after = TxTable.read(spark, t).inputFiles.toSet
    assert(before.intersect(after).size === 7,
      "the 7 files whose ranges exclude [100,120] carry by name")
    assert(TxTable.read(spark, t).count() === 4096L - 21L)
    assert(TxTable.read(spark, t).filter(col("id").between(100, 120))
      .count() === 0L)
    val ch = TxTable.changesRows(spark, t, 1, 2)
      .select("id", TxTable.ChangeCol).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch === (100L to 120L).map(i => (i, "delete")).toSet,
      "cdf from the candidate subset records exactly the deleted rows")
    // an untranslatable predicate still deletes correctly (full rewrite)
    TxTable.deleteWhere(spark, t, col("id") % 1000 === 0)
    assert(TxTable.read(spark, t).count() === 4096L - 21L - 5L,
      "ids {0,1000,2000,3000,4000} go; the modulo predicate is unprunable")
  }

  test("deleteWhere with a time-based predicate on an indexed table works") {
    // current_timestamp()/current_date() are foldable but Unevaluable
    // in an analyzed-only plan — candidate derivation must skip
    // folding them (falling back to the full-rewrite path), not crash
    val t = fresh()
    TxTable.overwriteClustered(spark, t,
      spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS v"),
      "id", numFiles = 4)
    TxTable.deleteWhere(spark, t, col("id") <= 10 &&
      current_timestamp() > lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
    assert(TxTable.read(spark, t).count() === 989L,
      "the time conjunct is runtime-true; ids 0..10 deleted")
    // same through a bloom-indexed head and current_date()
    val t2 = fresh()
    TxTable.overwriteClustered(spark, t2,
      spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS v"),
      "id", numFiles = 4, bloomCol = Some("id"))
    TxTable.deleteWhere(spark, t2, col("id") === 7L &&
      current_date() >= lit(java.sql.Date.valueOf("2000-01-01")))
    assert(TxTable.read(spark, t2).count() === 999L)
  }

  test("deleteWhere with a provably-empty candidate set is a no-op commit-wise") {
    val t = fresh()
    TxTable.overwriteClustered(spark, t,
      spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS v"),
      "id", numFiles = 4)
    val head = TxTable.latestVersion(spark, t)
    val files = TxTable.read(spark, t).inputFiles.toSet
    // no file's [lo,hi] can contain an id > 100000: zero candidates —
    // the head is already the result, so nothing commits (a staged
    // zero-row file per no-match delete would accrete empty live
    // files every later read scans)
    val got = TxTable.deleteWhere(spark, t, col("id") > 100000L)
    assert(got === head, "the returned version is the unchanged head")
    TxTable.deleteWhere(spark, t, col("id") > 100000L, cdf = true)
    TxTable.deleteWhere(spark, t, col("id") < -5L)
    assert(TxTable.latestVersion(spark, t) === head,
      "repeated no-match deletes commit nothing")
    assert(TxTable.read(spark, t).inputFiles.toSet === files,
      "the live file set is byte-identical — no empty files accreted")
    assert(TxTable.read(spark, t).count() === 1000L)
    // a MATCHING delete still commits normally afterwards
    TxTable.deleteWhere(spark, t, col("id") === 3L)
    assert(TxTable.latestVersion(spark, t) === head + 1)
    assert(TxTable.read(spark, t).count() === 999L)
  }

  test("reads stay loud-free while expireHistory truncates concurrently") {
    // a reader whose log listing predates a concurrent expiry can hit
    // a vanished pre-cutoff record mid-fold; foldState retries once
    // with a fresh listing and resolves from the cutoff checkpoint —
    // so head reads during repeated expiries never surface a raw
    // FileNotFoundException
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((0L, "base")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val writer = scala.concurrent.Future {
      (1 to 12).foreach { i =>
        TxTable.append(spark, t, Seq((i.toLong, s"w$i")).toDF("id", "v"))
        TxTable.expireHistory(spark, t, keepVersions = 2)
      }
    }
    var reads = 0
    while (!writer.isCompleted) {
      val n = TxTable.read(spark, t).count() // must never throw
      assert(n >= 1L)
      reads += 1
    }
    scala.concurrent.Await.result(writer,
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(reads > 0, "the reader overlapped the expiring writer")
    assert(TxTable.read(spark, t).count() === 13L)
  }

  test("appendClustered: increments land indexed, so data skipping survives ingest") {
    val t = fresh()
    TxTable.overwriteClustered(spark, t,
      spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS v"),
      "id", numFiles = 4)
    // a PLAIN append degrades pruning: its file has no stats, every
    // pruned read includes it
    TxTable.append(spark, t,
      spark.range(5000, 5100).selectExpr("id", "CAST(id AS STRING) AS v"))
    val plainRead = TxTable.readRangeOf(spark, t, "id", 0L, 99L)
    assert(plainRead.count() === 100L)
    val plainFiles = plainRead.inputFiles.length
    // an INDEXED append carries footer ranges: a range fully outside
    // the increment never reads it
    TxTable.appendClustered(spark, t,
      spark.range(9000, 9100).selectExpr("id", "CAST(id AS STRING) AS v"))
    val pruned = TxTable.readRangeOf(spark, t, "id", 0L, 99L)
    assert(pruned.count() === 100L)
    assert(pruned.inputFiles.length === plainFiles,
      "the indexed increment is pruned away; only the stat-less plain " +
        "append still rides along")
    // …and a range inside the increment reads it (with exact rows)
    assert(TxTable.readRangeOf(spark, t, "id", 9000L, 9049L).count() === 50L)
    assert(TxTable.read(spark, t).count() === 1200L)
    // bloom-indexed head: the increment's blooms land at the head's
    // bit width, so point reads keep pruning across ingest
    val t2 = fresh()
    TxTable.overwriteClustered(spark, t2,
      spark.range(4096).selectExpr("id div 512 AS k", "id",
        "CAST(id AS STRING) AS v"), "k", numFiles = 8,
      bloomCol = Some("id"))
    TxTable.appendClustered(spark, t2,
      spark.range(90000, 90008).selectExpr("id div 512 AS k", "id",
        "CAST(id AS STRING) AS v"))
    val hit = TxTable.readPoints(spark, t2, "id", Seq(90003L))
    assert(hit.count() === 1L)
    assert(hit.inputFiles.length < TxTable.read(spark, t2).inputFiles.length,
      "a point probe prunes both base AND increment files by bloom")
    val miss = TxTable.readPoints(spark, t2, "id", Seq(77777L))
    assert(miss.count() === 0L)
    // STRING-clustered head: the increment carries truncated string
    // bounds, so a base-side string range prunes it too
    val t3 = fresh()
    TxTable.overwriteClustered(spark, t3,
      spark.range(1000).selectExpr(
        "lpad(CAST(id AS STRING), 8, '0') AS k", "id"),
      "k", numFiles = 4)
    TxTable.appendClustered(spark, t3,
      spark.range(1000).selectExpr(
        "concat('zz', lpad(CAST(id AS STRING), 6, '0')) AS k", "id"))
    val sr = TxTable.readRangeOf(spark, t3, "k", "00000000", "00000099")
    assert(sr.count() === 100L)
    assert(sr.inputFiles.length < TxTable.read(spark, t3).inputFiles.length,
      "the zz-prefixed increment's string bounds prune it from a " +
        "base-side range")
    assert(TxTable.readRangeOf(spark, t3, "k", "zz000000", "zz000049")
      .count() === 50L)
    // txn idempotence: a redelivered indexed append lands nothing
    val v = TxTable.appendClustered(spark, t,
      spark.range(20000, 20010).selectExpr("id", "CAST(id AS STRING) AS v"),
      txn = Some("ingest:7"))
    assert(TxTable.appendClustered(spark, t,
      spark.range(20000, 20010).selectExpr("id", "CAST(id AS STRING) AS v"),
      txn = Some("ingest:7")) === v)
    assert(TxTable.read(spark, t).count() === 1210L)
  }

  test("streaming sink option clustered=true keeps batches prunable") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("txclsink").toString
    val t = s"$base/table"
    TxTable.overwriteClustered(spark, t,
      spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS v"),
      "id", numFiles = 4)
    spark.range(50000, 50100).selectExpr("id", "CAST(id AS STRING) AS v")
      .coalesce(1).write.parquet(s"$base/src/s0")
    val sch = spark.read.parquet(s"$base/src/s0").schema
    val q = spark.readStream.schema(sch).parquet(s"$base/src/s*")
      .writeStream.format("txtable")
      .option("appId", "clsink").option("clustered", "true")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start(t)
    q.awaitTermination()
    assert(TxTable.read(spark, t).count() === 1100L)
    // the streamed batch carries ranges: a base-only range prunes it
    val r = TxTable.readRangeOf(spark, t, "id", 0L, 99L)
    assert(r.count() === 100L)
    assert(r.inputFiles.length < TxTable.read(spark, t).inputFiles.length,
      "the streamed micro-batch must not ride along on a pruned read")
    assert(TxTable.readRangeOf(spark, t, "id", 50000L, 50049L)
      .count() === 50L)
  }

  test("compactSmall: bin-packs the small tail, carries right-sized files by reference") {
    val t = fresh()
    // one big clustered base (v1) + ten tiny streaming-style appends
    TxTable.overwriteClustered(spark, t,
      spark.range(100000).selectExpr("id", "CAST(id AS STRING) AS v"),
      "id", numFiles = 2)
    (0 until 10).foreach(i => TxTable.append(spark, t,
      Seq((200000L + i, s"tail$i")).toDF("id", "v")))
    val before = TxTable.read(spark, t).inputFiles
    assert(before.length === 12)
    val bigFiles = before.filter(p =>
      new java.io.File(new java.net.URI(p)).length >= 64 * 1024).toSet
    assert(bigFiles.size === 2, "the clustered base files are the big ones")
    // pack everything under 64 KiB into ~one file; the base carries
    val v = TxTable.compactSmall(spark, t, minFileBytes = 64 * 1024,
      targetBytes = 128L << 20)
    assert(v === 12L, "ten appends + overwrite = head 11; compactSmall lands 12")
    val after = TxTable.read(spark, t).inputFiles.toSet
    assert(bigFiles.subsetOf(after),
      "right-sized files are re-referenced by NAME, never rewritten")
    assert(after.size === 3,
      s"ten tail files pack into one (+2 carried), got ${after.size}")
    assert(TxTable.read(spark, t).count() === 100010L)
    // clustering metadata survives: the carried base still range-prunes
    assert(TxTable.readRangeOf(spark, t, "id", 0L, 99L).count() === 100L)
    assert(TxTable.readRangeOf(spark, t, "id", 0L, 99L)
      .inputFiles.length < 3, "carried stats still prune the packed head")
    // content-identical: the change feed serves the commit as zero rows
    assert(TxTable.changesRows(spark, t, 11, 12).count() === 0L)
    // steady state: nothing small left to pack — an idempotent no-op,
    // not a fresh commit
    assert(TxTable.compactSmall(spark, t, minFileBytes = 64 * 1024) === 12L)
    assert(TxTable.latestVersion(spark, t) === 12L)
    // time travel to the pre-pack head still reads
    assert(TxTable.readVersion(spark, t, 11).count() === 100010L)
  }

  test("file-level merge/delete equal the dense semantics over randomized key sets") {
    // the candidate pruning is PROOF-based, so the result must be
    // bit-identical to the full-rewrite semantics for ANY update/
    // predicate shape — sweep seeded-random tables (varying file
    // counts, bloom on/off) and key sets (hitting one file, many
    // files, nothing, and fresh inserts) against an in-memory model
    val rnd = new scala.util.Random(20260815L)
    (0 until 4).foreach { it =>
      val t = fresh()
      val n = 2000 + rnd.nextInt(2000)
      val nf = 1 + rnd.nextInt(7)
      val bloom = it % 2 == 0
      TxTable.overwriteClustered(spark, t,
        spark.range(n).selectExpr("id", "CAST(id AS STRING) AS v"),
        "id", numFiles = nf,
        bloomCol = if (bloom) Some("id") else None)
      val model = scala.collection.mutable.Map[Long, String]() ++
        (0L until n).map(i => i -> i.toString)
      // merge: a mix of narrow-window hits, scattered hits, and inserts
      val keys = (Seq.fill(1 + rnd.nextInt(20))(rnd.nextInt(n).toLong) ++
        Seq.fill(rnd.nextInt(3))(n + rnd.nextInt(1000).toLong)).distinct
      val updates = keys.map(k => (k, s"u$k")).toDF("id", "v")
      TxTable.merge(spark, t, updates, Seq("id"))
      keys.foreach(k => model(k) = s"u$k")
      // delete: a random contiguous range (translatable → pruned)
      val lo = rnd.nextInt(n).toLong; val hi = lo + rnd.nextInt(500)
      TxTable.deleteWhere(spark, t, col("id").between(lo, hi))
      (lo to hi).foreach(model.remove)
      val got = TxTable.read(spark, t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === model.toMap,
        s"iteration $it (n=$n files=$nf bloom=$bloom keys=${keys.size} " +
          s"delete=[$lo,$hi]) diverged from the dense model")
    }
  }

  test("compactSmall on a z-ordered head: carried rectangles + re-laid tail keep box pruning") {
    val t = fresh()
    val df = spark.range(4096).selectExpr("id % 64 AS a", "id div 64 AS b")
    TxTable.overwriteZordered(spark, t, df, Seq("a", "b"),
      numFiles = 8, bits = 0)
    // tiny appends land WITHOUT rectangles (appends carry no stats)
    (0 until 4).foreach(i => TxTable.append(spark, t,
      Seq((100L + i, 100L + i)).toDF("a", "b")))
    val base = TxTable.readVersion(spark, t, 1).inputFiles.toSet
    def len(p: String) = new java.io.File(new java.net.URI(p)).length
    TxTable.compactSmall(spark, t, minFileBytes = base.map(len).min)
    val after = TxTable.read(spark, t).inputFiles.toSet
    assert(base.subsetOf(after),
      "the z-ordered base files carry by name")
    assert(after.size === base.size + 1,
      "the stat-less tail packs into ONE re-laid file")
    assert(TxTable.read(spark, t).count() === 4100L)
    // box pruning: carried rectangles prune the base; the packed tail
    // file gets FRESH rectangles (the z-branch re-lays candidates), so
    // a corner box reads few files and exact rows
    val corner = TxTable.readBox(spark, t, Seq(("a", 0L, 7L), ("b", 0L, 7L)))
    assert(corner.count() === 64L)
    assert(corner.inputFiles.length < after.size,
      "box pruning works across carried + packed rectangles")
    // the packed tail's own corner still resolves
    assert(TxTable.readBox(spark, t,
      Seq(("a", 100L, 103L), ("b", 100L, 103L))).count() === 4L)
  }

  test("file-level merge carries pre-evolution files under the evolved schema") {
    val t = fresh()
    TxTable.overwriteClustered(spark, t,
      spark.range(1024).selectExpr("id", "CAST(id AS STRING) AS v"),
      "id", numFiles = 4)
    TxTable.evolveAppend(spark, t, Seq((5000L, "x", 9L)).toDF("id", "v", "q"))
    val before = TxTable.readVersion(spark, t, 1).inputFiles.toSet
    // id=5000 is outside every clustered file's range; the evolve file
    // carries no stats (appends don't) so it stays a candidate — the
    // four clustered (PRE-EVOLUTION) files carry by reference, and the
    // merge commit must keep the widened schema recorded or their rows
    // would read back without q
    TxTable.merge(spark, t, Seq((5000L, "y", 10L)).toDF("id", "v", "q"),
      Seq("id"))
    val head = TxTable.read(spark, t)
    assert(head.schema.fieldNames.toSet === Set("id", "v", "q"),
      "the carried commit keeps the evolved schema")
    assert(before.intersect(head.inputFiles.toSet).size === 4,
      "all four pre-evolution cluster files carry by name")
    val rows = head.collect().map(r =>
      r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(rows(5000L) === (("y", Some(10L))))
    assert(rows(7L) === (("7", None)), "carried rows null-fill the new column")
    assert(rows.size === 1025)
  }

  test("evolveAppend re-derives its widened schema after a lost version race") {
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    // the racer lands a DIFFERENT new column (q) exactly inside the
    // loser's observe-head -> claim window: re-landing the loser's
    // stale pre-race widening would clobber q out of the head schema
    // (its files still carrying the data) — the loser must re-derive
    // against the racer's head and land the UNION
    var injected = false
    TxTable.evolveRaceInjection = () => if (!injected) {
      injected = true
      TxTable.evolveAppend(spark, t,
        Seq((2L, "b", 7L)).toDF("id", "v", "q"))
    }
    try TxTable.evolveAppend(spark, t,
      Seq((3L, "c", "x")).toDF("id", "v", "w"))
    finally TxTable.evolveRaceInjection = () => ()
    assert(injected, "the race window must have fired")
    val head = TxTable.read(spark, t)
    assert(head.schema.fieldNames.toSet === Set("id", "v", "q", "w"),
      "the losing evolveAppend must re-derive: BOTH racers' columns survive")
    val byId = head.collect().map(r => r.getLong(0) ->
      (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(byId(1L) === (("a", None, None)))
    assert(byId(2L) === (("b", Some(7L), None)))
    assert(byId(3L) === (("c", None, Some("x"))))
    // an interleaved OVERWRITE resets the schema; the losing
    // evolveAppend must widen the racer's FRESH schema, not overlay
    // the pre-overwrite one (which would resurrect phantom columns)
    val t2 = fresh()
    TxTable.overwrite(spark, t2, Seq((1L, "a")).toDF("id", "v"))
    var injected2 = false
    TxTable.evolveRaceInjection = () => if (!injected2) {
      injected2 = true
      TxTable.overwrite(spark, t2, Seq((5L, "e", 9L)).toDF("id", "v", "z"))
    }
    try TxTable.evolveAppend(spark, t2,
      Seq((6L, "f", "y")).toDF("id", "v", "w"))
    finally TxTable.evolveRaceInjection = () => ()
    assert(TxTable.read(spark, t2).schema.fieldNames.toSet ===
      Set("id", "v", "z", "w"),
      "the widening restarts from the racing overwrite's fresh schema")
    assert(TxTable.read(spark, t2).count() === 2L,
      "the overwrite reset content; only its rows + the evolve rows live")
  }

  test("readRangeOf/readBoxOf reject cross-flavor datetime bounds") {
    val t = fresh()
    // TIMESTAMP_NTZ cluster column: recorded ranges are WALL-CLOCK
    // micros, so an LTZ-flavored bound (Timestamp/Instant = epoch
    // micros) would shift pruning by the session-zone offset and could
    // silently drop matching files — reject, never mis-prune
    val df = spark.range(100).selectExpr("id",
      "timestampadd(HOUR, CAST(id AS INT), TIMESTAMP_NTZ'2024-01-01 00:00:00') AS ts")
    TxTable.overwriteClustered(spark, t, df, "ts", numFiles = 4)
    val ntzLo = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val ntzHi = java.time.LocalDateTime.of(2024, 1, 2, 0, 0)
    assert(TxTable.readRangeOf(spark, t, "ts", ntzLo, ntzHi).count() === 25L,
      "matching-flavor bounds read exactly the window")
    val e = intercept[IllegalArgumentException] {
      TxTable.readRangeOf(spark, t, "ts",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
    }
    assert(e.getMessage.contains("LocalDateTime"),
      s"the rejection must name the right flavor: ${e.getMessage}")
    // and the reverse: an NTZ-flavored bound on a DATE column rejects
    val t2 = fresh()
    val df2 = spark.range(100).selectExpr("id",
      "DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS d")
    TxTable.overwriteZordered(spark, t2, df2, Seq("d", "id"),
      numFiles = 4, bits = 0)
    val e2 = intercept[IllegalArgumentException] {
      TxTable.readBoxOf(spark, t2, Seq(
        ("d", java.time.LocalDateTime.of(2024, 1, 1, 0, 0),
          java.time.LocalDateTime.of(2024, 1, 8, 0, 0)),
        ("id", 0L, 7L)))
    }
    assert(e2.getMessage.contains("java.sql.Date"),
      s"the rejection must name the right flavor: ${e2.getMessage}")
    // matching flavors still box-prune
    assert(TxTable.readBoxOf(spark, t2, Seq(
      ("d", java.sql.Date.valueOf("2024-01-01"),
        java.sql.Date.valueOf("2024-01-08")),
      ("id", 0L, 7L))).count() === 8L)
  }

  test("SQL DML on a registered table routes through the commit log — never the native file write") {
    val t = fresh()
    val tbl = "graft_txdml_spec"
    TxTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING txtable LOCATION '$t'")
    try {
      // INSERT INTO = one transactional append commit, visible to a
      // fresh reader — not a bare unlogged parquet file in the root
      spark.sql(s"INSERT INTO $tbl VALUES (3, 'c')")
      assert(TxTable.latestVersion(spark, t) === 2L,
        "INSERT INTO must land exactly one commit")
      assert(TxTable.history(spark, t).last.action === "append")
      assert(rows(t) === Set((1L, "a"), (2L, "b"), (3L, "c")))
      // the catalog table serves the CREATE-time snapshot until
      // REFRESH (documented semantics) — refresh-then-see-new-commit
      spark.sql(s"REFRESH TABLE $tbl")
      assert(spark.sql(s"SELECT id FROM $tbl").collect()
        .map(_.getLong(0)).toSet === Set(1L, 2L, 3L),
        "REFRESH TABLE re-resolves the relation to the new head")
      // INSERT OVERWRITE = one transactional overwrite commit: the
      // commit log, full history and time travel ALL survive (the
      // native InsertIntoHadoopFsRelationCommand would have deleted
      // _txlog/ and every data file before writing)
      spark.sql(s"INSERT OVERWRITE $tbl VALUES (9, 'z')")
      assert(TxTable.latestVersion(spark, t) === 3L,
        "INSERT OVERWRITE must land exactly one commit on the same log")
      assert(TxTable.history(spark, t).map(_.action) ===
        Seq("overwrite", "append", "overwrite"))
      assert(rows(t) === Set((9L, "z")))
      assert(TxTable.readVersion(spark, t, 2).count() === 3L,
        "history and time travel survive a SQL overwrite")
      // no unlogged stragglers: every parquet under the root is
      // reachable from the log (SQL writes never bypass it)
      val hfs = graft.api.Dedup.hadoopFs(spark, t)
      val all = {
        val it = hfs.listFiles(new org.apache.hadoop.fs.Path(t), true)
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().getPath.toString
        b.result()
      }
      val logged = (1L to 3L).flatMap(v =>
        TxTable.readVersion(spark, t, v).inputFiles).toSet
      val strays = all.filter(p => p.endsWith(".parquet") &&
        !p.contains("_txlog") && !logged.contains("file:" + p.stripPrefix("file:")))
        .filterNot(p => logged.exists(l => l.endsWith(p.stripPrefix("file:"))))
      assert(strays.isEmpty, s"unlogged parquet landed in the root: $strays")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("SQL hostile edges: partition specs, TRUNCATE, self-insert, CTAS, ALTER") {
    val t = fresh()
    val tbl = "graft_txedge_spec"
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING txtable LOCATION '$t'")
    try {
      // a PARTITION spec can't take the InsertableRelation case (its
      // guard requires an empty spec) — it must die at ANALYSIS, before
      // the native overwrite path could delete anything
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"INSERT OVERWRITE $tbl PARTITION (id=9) VALUES ('x')")
      }
      assert(TxTable.latestVersion(spark, t) === 1L &&
        TxTable.read(spark, t).count() === 1L,
        "a rejected partition insert leaves log and data intact")
      // TRUNCATE on an external table is refused by Spark itself —
      // the direct-filesystem truncation path never reaches the table
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"TRUNCATE TABLE $tbl")
      }
      assert(TxTable.read(spark, t).count() === 1L)
      // self-insert is SAFE under snapshot isolation: the relation is
      // pinned to its resolved version, the staged data reads the old
      // immutable files, the commit lands on top
      spark.sql(s"INSERT INTO $tbl SELECT id + 100, v FROM $tbl")
      assert(TxTable.read(spark, t).select("id").collect()
        .map(_.getLong(0)).toSet === Set(1L, 101L))
      assert(TxTable.latestVersion(spark, t) === 2L)
      // ALTER ADD COLUMNS: Spark's session catalog rewrites only the
      // metastore schema (evolveAppend is the schema-evolution path), so
      // the log stays as it was and the table fails loudly on its next read
      spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (q BIGINT)")
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT * FROM $tbl").collect()
      }
      assert(TxTable.latestVersion(spark, t) === 2L &&
        TxTable.read(spark, t).columns.toSeq === Seq("id", "v"),
        "a metastore-only ALTER leaves the log untouched")
      spark.sql(s"DROP TABLE $tbl")
      assert(TxTable.read(spark, t).count() === 2L, "DROP keeps the data")
      // CTAS into a fresh LOCATION: the first write lands as one
      // overwrite commit — a real commit-log table, not bare parquet
      val t2 = fresh()
      spark.sql("DROP TABLE IF EXISTS graft_txedge_ctas")
      spark.sql(s"CREATE TABLE graft_txedge_ctas USING txtable " +
        s"LOCATION '$t2' AS SELECT 5 AS id, 'z' AS v")
      assert(TxTable.latestVersion(spark, t2) === 1L &&
        TxTable.read(spark, t2).count() === 1L,
        "CTAS lands one overwrite commit on a fresh log")
      assert(TxTable.history(spark, t2).map(_.action) === Seq("overwrite"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql("DROP TABLE IF EXISTS graft_txedge_ctas")
    }
  }

  test("format reads and USING txtable tables plan over TxSnapshotTable") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val t = fresh()
    val tbl = "graft_txroute_spec"
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    def tables(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      df.queryExecution.analyzed.collect {
        case r: DataSourceV2Relation => r.table
        case other if other.getClass.getSimpleName == "LogicalRelation" => other
      }
    // the shared snapshot core, without the catalog's DML surface
    def onlySnapshot(df: org.apache.spark.sql.DataFrame): Unit = {
      val ts = tables(df)
      assert(ts.size === 1 && ts.head.isInstanceOf[graft.api.TxSnapshotTable] &&
        !ts.head.isInstanceOf[graft.api.TxV2Table],
        s"must resolve to one DataSourceV2Relation over TxSnapshotTable: $ts")
    }
    onlySnapshot(spark.read.format("txtable").load(t))
    onlySnapshot(spark.read.format("txtable").option("versionAsOf", 1).load(t))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING txtable LOCATION '$t'")
    try {
      onlySnapshot(spark.table(tbl))
      // SQL INSERT / INSERT OVERWRITE hand the frame to the transactional
      // verbs (V1Write) — Spark's native file write is not reachable
      for (stmt <- Seq(s"INSERT INTO $tbl VALUES (2, 'b')",
                       s"INSERT OVERWRITE $tbl VALUES (2, 'b')")) {
        val plan = spark.sql(s"EXPLAIN $stmt").head().getString(0)
        assert(plan.contains("ExecV1") && !plan.contains("InsertIntoHadoopFsRelation"),
          s"$stmt must plan as a V1Write through the commit log:\n$plan")
      }
      assert(TxTable.latestVersion(spark, t) === 1L, "EXPLAIN commits nothing")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("USING txtable session tables refuse SQL DELETE, UPDATE and MERGE and expose no _file") {
    val t = fresh()
    val tbl = "graft_txnodml_spec"
    TxTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING txtable LOCATION '$t'")
    try {
      // row-level DML is the TxCatalog's: a session table has no
      // DELETE/UPDATE/MERGE route, and Spark says so before any write
      for (stmt <- Seq(s"DELETE FROM $tbl WHERE id = 1",
                       s"UPDATE $tbl SET v = 'z' WHERE id = 1",
                       s"MERGE INTO $tbl t USING (SELECT 1L AS id, 'q' AS v) s " +
                         "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")) {
        val e = intercept[Exception](spark.sql(stmt).collect())
        assert(e.getMessage.contains("not support"), s"$stmt: ${e.getMessage}")
      }
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT _file, _pos FROM $tbl").collect()
      }
      assert(TxTable.latestVersion(spark, t) === 1L &&
        TxTable.read(spark, t).count() === 2L, "log and data untouched")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("format reads keep _file/_pos DATA columns as data, natively and through DVs") {
    val t = fresh()
    TxTable.overwrite(spark, t,
      Seq((1L, 10L, "x"), (2L, 20L, "y"), (3L, 30L, "z")).toDF("id", "_pos", "_file"))
    def read() = spark.read.format("txtable").load(t)
      .filter($"_pos" >= 20L).select("id", "_pos", "_file")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(read() === Seq((2L, 20L, "y"), (3L, 30L, "z")), "native scan")
    TxTable.deleteWhereDv(spark, t, $"id" === 3L)
    assert(TxTable.history(spark, t).last.action === "dv")
    assert(read() === Seq((2L, 20L, "y")), "DV scan")
  }

  test("a format read from a non-active session binds that session") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val t = fresh()
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    val other = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val df = other.read.format("txtable").load(t)
    val table = df.queryExecution.analyzed.collectFirst {
      case r: DataSourceV2Relation => r.table
    }.get.asInstanceOf[graft.api.TxSnapshotTable]
    assert(table.session eq other, "the reading session, not the thread's active one")
    assert(df.count() === 1L)
  }

  test("the first write to a fresh LOCATION claims version 1; a losing writer lands on top") {
    import scala.jdk.CollectionConverters._
    val t = fresh()
    val schema = Seq((0L, "")).toDF("id", "v").schema
    val table = new graft.api.TxTableSource().getTable(schema, Array.empty,
      Map("path" -> t).asJava)
    assert(table.schema === schema, "a path with no log serves the declared schema")
    // another writer creates the table between this statement's analysis
    // and its write
    TxTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "v"))
    val write = table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(null).build()
      .asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
    write.toInsertableRelation.insert(Seq((2L, "b")).toDF("id", "v"), false)
    assert(rows(t) === Set((1L, "a"), (2L, "b")), "neither writer's rows are lost")
    assert(TxTable.history(spark, t).map(_.action) === Seq("overwrite", "append"))
  }


  test("streaming sink without appId or checkpointLocation OPTION rejects loudly") {
    // a shared default appId would make two anonymous queries' txn ids
    // collide ("app:0"...) and silently drop the second query's batches
    // as redeliveries — absence of both options is a hard error
    val e = intercept[IllegalArgumentException] {
      new graft.api.TxTableSource().createSink(spark.sqlContext,
        Map("path" -> fresh()), Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
    assert(e.getMessage.contains("appId"))
  }

  test("TxTable.read over 40 files starts no listing job; a lost file fails by name") {
    val t = fresh()
    TxTable.overwrite(spark, t,
      spark.range(0, 800, 1, 40).selectExpr("id", "concat('v', id) AS v"))
    val files = TxTable.history(spark, t).last.files
    assert(files.size === 40)
    def jobs(build: => org.apache.spark.sql.DataFrame): Double =
      graft.obs.SparkCounters.during(spark.sparkContext) { build; () }("jobs")
    assert(jobs(TxTable.read(spark, t)) === 0.0,
      "40 log-named files exceed the parallel-listing threshold of 32")
    TxTable.deleteWhereDv(spark, t, col("id") % 9 === 0)
    assert(jobs(TxTable.read(spark, t)) === 0.0, "nor with position deletes")
    val withPos = TxTable.read(spark, t)
    assert(withPos.count() === 800L - 89L)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$t/${files.head}"))
    val e = intercept[IllegalArgumentException](TxTable.read(spark, t).count())
    assert(e.getMessage.contains("commit log references data files the store no longer holds"),
      e.getMessage)
  }
}
