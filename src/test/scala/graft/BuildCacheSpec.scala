package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{BuildCache, Dedup}
import graft.ops.{Pipeline, Sources}
import graft.ops.H.t
import graft.shelf.Tables
import graft.streaming.Streams

/** The one cross-process build cache, row by row over every build it
  * serves: a cleared session with unchanged inputs is served, a
  * same-size rewrite with the mtime reset is rebuilt, and a build that
  * throws after writing part of its output leaves nothing that is ever
  * served.
  */
class BuildCacheSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  /** One former cache: the source table its key fingerprints, its real
    * call site (returning a comparable answer), and a call into the
    * same entry point whose build writes part of the entry and throws.
    */
  private case class Row(recipe: String, source: String,
                         call: (SparkSession, String) => Any,
                         failing: (SparkSession, String) => Any)

  /** `df` with column `k` raising on about one row in seven, so a
    * write of it fails part-way through.
    */
  private def failingFrom(df: DataFrame, k: String): DataFrame =
    df.withColumn(k, expr(s"if(pmod(hash($k), 7) = 3, raise_error('injected failure'), $k)"))

  private def rows(r: DataFrame): Seq[String] =
    r.collect().map(_.toString).sorted.toSeq

  private val table: Seq[Row] = Seq(
    Row("src_csv", "orders",
      (s, d) => rows(SparkEntry.queries("q_src_csv")(s, d)),
      (s, d) => Sources.ensure(s, d, "csv") { out =>
        t(s, d, "orders").select("o_orderkey").write.csv(out)
        sys.error("injected failure after a partial write")
      }),
    Row("bk_orders", "orders",
      (s, d) => rows(SparkEntry.queries("q_agg_bucketed")(s, d)),
      (s, d) => api.Bucketing.ensureBucketed(s, d, "orders",
        failingFrom(t(s, d, "orders"), "o_orderkey"), "o_custkey",
        srcPaths = Seq(s"$d/orders.parquet"))),
    Row("nearpairs", "documents",
      (s, d) => rows(Pipeline.nearPairs(s, d)),
      (s, d) => Pipeline.cachedParquet(s, d, "nearpairs", 1, "documents")(
        failingFrom(t(s, d, "documents"), "doc_id"))),
    Row("kmcents", "embeddings",
      // Lloyd's sums are merge-order sensitive in their last bits
      (s, d) => Pipeline.kmeansCents(s, d)
        .map { case (id, v) => id -> v.map(x => math.round(x * 1e9)) },
      // the lines are written only once `compute` returns, so the
      // failure lands inside the build before the TSV is written
      (s, d) => Pipeline.cachedLines(s, d, "kmcents", 1, "embeddings")(
        Seq("0\t1.0") ++ sys.error("injected failure mid-compute"))),
    // a served entry must give the same pair checksum as a fresh build
    Row("bands", "documents",
      (s, d) => {
        val (index, corpusSh) = Pipeline.corpusBandsSh(s, d)
        Dedup.incrementalMinhashPairsIndexed(corpusSh, index,
            Pipeline.incrShingled(s, d), threshold = 0.5)
          .agg(expr("bit_xor(xxhash64(doc_a, doc_b, CAST(jaccard AS STRING)))"),
            count(lit(1)))
          .head().toString
      },
      (s, d) => Dedup.cachedBandIndex(s, d, Seq(s"$d/documents.parquet"))(
        failingFrom(Pipeline.shingled(s, d).filter(col("doc_id") % 10 =!= 0),
          "doc_id"))),
    Row("segs", "documents",
      (s, d) => rows(Pipeline.corpusSegIndex(s, d)),
      (s, d) => Dedup.cachedSegmentIndex(s, d, Seq(s"$d/documents.parquet"),
          segTokens = 15)(
        failingFrom(Dedup.segmentHashes(t(s, d, "documents"), "doc_id", "text", 15),
          "h"))),
    Row("replay_dedup_keys", "events",
      (s, d) => rows(Streams.dedupKeys(s, d)),
      (s, d) => Streams.persistedOp(s, d, "dedup_keys", 2,
          Seq(s"$d/events.parquet"))(
        failingFrom(t(s, d, "events"), "event_id")).count()),
    Row("replay_windowed", "events",
      (s, d) => rows(Streams.tumblingCounts(s, d)) ++ rows(Streams.sessionCounts(s, d)),
      // the trio's own key: one sink lands, then the build throws
      (s, d) => BuildCache(s, "replay_windowed", 2, Seq(s"$d/events.parquet"), d) { out =>
        s.range(3).write.parquet(s"$out/tumble_complete")
        sys.error("injected failure after the first sink")
      })
  )

  /** A private copy of the sf tables, so rewrites never touch shared
    * testdata.
    */
  private def corpus(): String = {
    val dir = SparkTestSession.tempDir("buildcache")
    Seq("orders", "customer", "documents", "embeddings", "events").foreach { n =>
      Files.copy(Paths.get(s"$sfDir/$n.parquet"), dir.resolve(s"$n.parquet"))
    }
    dir.toString
  }

  /** Rewrite `f` in place with its own bytes and put its mtime back:
    * same path, size, content and mtime — only the ctime moves.
    */
  private def rewriteSameSize(f: Path): Unit = {
    val mtime = Files.getLastModifiedTime(f)
    Files.write(f, Files.readAllBytes(f))
    Files.setLastModifiedTime(f, mtime)
  }

  private def recipeDir(recipe: String, scope: String): Path =
    BuildCache.root.resolve(s"$recipe-${Dedup.tableTag(scope)}")

  private def children(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toVector.sorted
      finally s.close()
    }

  private val published = "[0-9a-f]{16}"

  for (row <- table) test(s"${row.recipe}: served when unchanged, rebuilt on a " +
      "same-size rewrite, never served from a failed build") {
    val d = corpus()
    val src = Paths.get(s"$d/${row.source}.parquet")
    def outcome = BuildCache.outcome(row.recipe, d)
    def fresh(): Any = { Graft.clear(spark); row.call(spark, d) }

    val cold = fresh()
    assert(outcome === ((0, 1)), "a cold corpus builds")
    assert(fresh() === cold)
    assert(outcome === ((1, 1)), "unchanged inputs are served")

    rewriteSameSize(src)
    assert(fresh() === cold)
    assert(outcome === ((1, 2)), "a same-size rewrite with the mtime reset rebuilds")

    rewriteSameSize(src)
    Graft.clear(spark)
    intercept[Throwable](row.failing(spark, d))
    assert(outcome === ((1, 3)), "the failing call built")
    assert(children(recipeDir(row.recipe, d)).forall(_.matches(published)),
      s"a failed build leaves no staging: ${children(recipeDir(row.recipe, d))}")
    assert(fresh() === cold)
    assert(outcome === ((1, 4)), "the call after a failed build rebuilds")
    assert(children(recipeDir(row.recipe, d)).size === 1,
      "a publish supersedes the other keys of its recipe and scope")
    Graft.clear(spark)
  }

  test("an entry with a file missing from its manifest is rebuilt, not served") {
    val dir = SparkTestSession.tempDir("manifest")
    val input = Files.writeString(dir.resolve("in.txt"), "x")
    def build(): String = BuildCache(spark, "spec_legs", 1, Seq(input.toString),
        dir.toString) { out =>
      (0 until 3).foreach(i => spark.range(10).write.parquet(s"$out/s$i"))
    }
    // the staging a crashed publisher left behind (its pid is gone)
    val crashed = recipeDir("spec_legs", dir.toString).resolve("0123456789abcdef_999999999_0")
    Files.createDirectories(crashed)
    Files.writeString(crashed.resolve("part-0.parquet"), "torn")
    val first = build()
    assert(!Files.exists(crashed), "a publish sweeps a dead publisher's staging")
    assert(build() === first)
    assert(BuildCache.outcome("spec_legs", dir.toString) === ((1, 1)))
    // a partial cleanup empties one leg: the entry is incomplete
    val leg = Paths.get(first, "s1")
    children(leg).filter(_.endsWith(".parquet")).foreach(n => Files.delete(leg.resolve(n)))
    assert(build() === first)
    assert(BuildCache.outcome("spec_legs", dir.toString) === ((1, 2)),
      "a missing manifest file means rebuild")
    assert(spark.read.parquet(s"$first/s1").count() === 10)
  }

  test("concurrent publishers of one key each get a complete entry, no staging left") {
    val dir = SparkTestSession.tempDir("pubrace")
    val input = Files.writeString(dir.resolve("corpus.txt"), "v1")
    val sh = Dedup.shingles(t(spark, sfDir, "documents").filter(col("doc_id") < 40),
      "doc_id", "text")
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map(_ => pool.submit(new Callable[(String, Long)] {
        def call(): (String, Long) = {
          gate.await()
          val (idx, corpusSh) = Dedup.cachedBandIndex(spark, dir.toString,
            Seq(input.toString))(sh)
          (idx.rows.inputFiles.head, idx.rows.count() + corpusSh.count())
        }
      }))
      gate.countDown()
      val got = futures.map(_.get(4, TimeUnit.MINUTES))
      val expected = Dedup.buildBandIndex(sh).rows.count() + sh.count()
      assert(got.forall(_._2 == expected), s"each publisher reads a complete entry: $got")
      val entries = children(recipeDir("bands", dir.toString))
      assert(entries.size === 1 && entries.head.matches(published),
        s"one published entry and no staging: $entries")
      assert(got.forall(_._1.contains(entries.head)), "both serve the published entry")
    } finally pool.shutdown()
    Graft.clear(spark)
  }

  test("an absent input is built but never published") {
    val dir = Files.createTempDirectory("absent")
    val absent = dir.resolve("missing.parquet").toString
    def build(): String = BuildCache(spark, "spec_absent", 1, Seq(absent),
        dir.toString)(out => spark.range(5).write.mode("overwrite").parquet(out))
    val a = build()
    assert(spark.read.parquet(a).count() === 5)
    assert(a !== BuildCache.entryPath("spec_absent", 1, Seq(absent), dir.toString))
    assert(!children(recipeDir("spec_absent", dir.toString)).exists(_.matches(published)))
    val b = build()
    assert(b !== a, "nothing was published, so the next call builds again")
    assert(BuildCache.outcome("spec_absent", dir.toString) === ((0, 2)))
    Graft.clear(spark)
    assert(!Files.exists(Paths.get(a)) && !Files.exists(Paths.get(b)),
      "unpublished builds are deleted at Graft.clear")
  }

  test("an entry whose input is gone is swept; one whose inputs exist stays") {
    def entry(name: String): (Path, String) = {
      val dir = SparkTestSession.tempDir(name)
      val input = Files.writeString(dir.resolve("in.txt"), name)
      (dir, BuildCache(spark, "spec_orphan", 1, Seq(input.toString),
        dir.toString)(out => spark.range(3).write.mode("overwrite").parquet(out)))
    }
    val (goneDir, gone) = entry("orphan")
    val (keptDir, kept) = entry("kept")
    Tables.deleteRecursively(goneDir)
    assert(BuildCache.sweepOrphans() >= 1)
    assert(!Files.exists(Paths.get(gone)), "the entry of a deleted input is gone")
    assert(!Files.exists(recipeDir("spec_orphan", goneDir.toString)),
      "and so is its emptied (recipe, scope) directory")
    assert(Files.exists(Paths.get(kept)) && spark.read.parquet(kept).count() === 3,
      "an entry whose inputs exist stays")
    assert(BuildCache(spark, "spec_orphan", 1, Seq(keptDir.resolve("in.txt").toString),
      keptDir.toString)(_ => fail("a kept entry is served, not rebuilt")) === kept)
  }

  test("src/main keeps one cache root: no marker files, shm paths or old roots") {
    val banned = Seq("_GRAFT_OK", "_GRAFT_FP", "_GRAFT_GEN", "/dev/shm", "graft_io")
    val walk = Files.walk(Paths.get("src/main"))
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally walk.close()
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$f:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
