package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one context). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh temp directory, deleted when the test JVM exits — so the
    * build-cache entries a spec scopes to it are swept as orphans by the
    * next process's first publish instead of piling up.
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(scala.util.Try(graft.shelf.Tables.deleteRecursively(dir)))
    dir
  }
}

class RegistrySpec extends AnyFunSuite {
  import graft.ops.Registry

  test("query names are unique and oracle keys all have queries") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(SparkTestSession.spark).count() > 0)
  }

  test("every driver table loads through H.t and events.ts normalizes") {
    // The driver regenerated /root/testdata mid-project once already
    // (round 9: events.ts nano INT64 -> micro TIMESTAMP_NTZ), silently
    // breaking 15 queries until Verify ran. This spec moves that class
    // of break into `sbt test`: every table must load, and events.ts
    // must come out a session-zone TIMESTAMP whatever the file carries.
    import graft.ops.H
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { name =>
      val df = H.t(SparkTestSession.spark, SparkTestSession.sfDir, name)
      assert(df.limit(1).count() === 1, s"$name must load and be non-empty")
    }
    val ev = H.t(SparkTestSession.spark, SparkTestSession.sfDir, "events")
    assert(ev.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType,
      "events.ts must normalize to TIMESTAMP across testdata generations")
  }
}

class PipelineSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}
  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  private def pairs(name: String): Set[(Long, Long)] =
    run(name).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact-jaccard near-dup finds the 28 planted pairs") {
    assert(pairs("q_dedup_near").size === 28)
  }

  test("minhash-LSH recovers exactly the exact-jaccard pair set") {
    assert(pairs("q_dedup_minhash") === pairs("q_dedup_near"))
  }

  test("simhash pairs are a subset of the jaccard pair set") {
    val sh = pairs("q_dedup_simhash")
    assert(sh.nonEmpty && sh.subsetOf(pairs("q_dedup_near")))
  }

  test("exact dedup: every document hash is unique in this corpus") {
    val dupGroups = run("q_dedup_exact").filter("n > 1").count()
    assert(dupGroups === 0)
    assert(run("q_dedup_exact").count() === 500)
  }

  test("brute-force top-k cosine is deterministic and ordered") {
    val a = run("q_sim_cosine").collect()
    val b = run("q_sim_cosine").collect()
    assert(a.toSeq === b.toSeq)
    val cos = a.map(_.getDouble(1)).toSeq
    assert(cos === cos.sorted.reverse, "descending by cosine")
    assert(a.length === 10)
  }

  test("IVF ANN returns 10 rows drawn from the corpus, deterministically") {
    val a = run("q_sim_ann_ivf").collect()
    assert(a.length === 10)
    assert(a.map(_.getLong(0)).distinct.length === 10)
    assert(a.toSeq === run("q_sim_ann_ivf").collect().toSeq)
  }

  test("k-means IVF is deterministic and recalls >= 6/10 of the exact top-k") {
    val a = run("q_sim_ann_kmeans").collect()
    assert(a.length === 10)
    assert(a.toSeq === run("q_sim_ann_kmeans").collect().toSeq,
      "fixed-seed Lloyd iterations must be reproducible")
    val exact = run("q_sim_cosine").collect().map(_.getLong(0)).toSet
    val got = a.map(_.getLong(0)).toSet
    assert((exact & got).size >= 6,
      s"recall too low: ${(exact & got).size}/10 (4 of 16 cells probed)")
  }

  test("dropExactDuplicates keeps the lowest id per payload and uses WindowGroupLimit") {
    val s = SparkTestSession.spark
    import s.implicits._
    val d = Seq((5L, "same"), (2L, "same"), (9L, "same"), (7L, "other"))
      .toDF("doc_id", "text")
    val out = graft.api.Dedup.dropExactDuplicates(d, "doc_id", "text")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L, 7L))
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "rank-1 filter should compile to a per-group top-1, not a full sort")
  }

  test("trained n-gram profiles close the loop with the classifier") {
    // the synthetic corpus has no real per-language text signal (its
    // top bigrams are near-identical across langs), so the full
    // Cavnar-Trenkle train->classify loop is pinned on a planted
    // corpus whose languages have disjoint vocabularies
    val s = SparkTestSession.spark
    import s.implicits._
    val docs = Seq(
      (1L, "xq", "xq zv xq zv qq"), (2L, "xq", "zv xq qq zv xq"),
      (3L, "mo", "mo wu mo wu oo"), (4L, "mo", "wu mo oo wu mo")
    ).toDF("doc_id", "lang", "text")
    val prof = graft.api.TextAnalysis.ngramProfiles(docs, "lang", "text",
        n = 2, k = 6).collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getLong(1)).map(_.getString(2)).toSeq }
    val pred = graft.api.TextAnalysis.langIdNgram(docs, "doc_id", "text", prof)
      .join(docs.select("doc_id", "lang"), "doc_id")
    assert(pred.filter("predicted = lang").count() === 4,
      "trained profiles must classify their own disjoint-vocab corpus exactly")
  }

  test("self-pairs and snowflake-scale ids survive clustering and mixing") {
    val s = SparkTestSession.spark
    import s.implicits._
    // a doc whose only row is a self-pair still gets a cluster label
    val cl = graft.api.Dedup.duplicateClusters(
        Seq((1L, 2L), (7L, 7L)).toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl === Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    // ids past 2^32 must not overflow the ANSI-mode Knuth hash
    val big = Seq((4294967296L * 3 + 17, "a"), (Long.MaxValue - 5, "a"))
      .toDF("doc_id", "src")
    assert(graft.api.Mixing.stratifiedSample(big, "doc_id", "src",
      Map("a" -> 1.0)).count() === 2)
    assert(graft.api.Mixing.stratifiedSample(big, "doc_id", "src",
      Map("a" -> 0.0)).count() === 0)
  }

  test("stratified mixing: rate 1 keeps all, rate 0 keeps none, others in between") {
    val s = SparkTestSession.spark
    import s.implicits._
    val d = (1L to 1000L).map(i => (i, if (i % 2 == 0) "keep" else "drop"))
      .toDF("doc_id", "src")
    val out = graft.api.Mixing.stratifiedSample(d, "doc_id", "src",
      Map("keep" -> 1.0, "drop" -> 0.0))
    assert(out.filter("src = 'keep'").count() === 500)
    assert(out.filter("src = 'drop'").count() === 0)
    val half = graft.api.Mixing.stratifiedSample(d, "doc_id", "src",
      Map("keep" -> 0.5), defaultRate = 0.5).count()
    assert(half > 350 && half < 650, s"~half expected, got $half")
    // deterministic: the same rows every time
    assert(out.collect().toSeq === graft.api.Mixing.stratifiedSample(
      d, "doc_id", "src", Map("keep" -> 1.0, "drop" -> 0.0)).collect().toSeq)
  }

  test("repetition stats match hand-computed fractions") {
    val s = SparkTestSession.spark
    import s.implicits._
    val d = Seq((1L, "a a a a b"), (2L, "x y z w"), (3L, "solo"))
      .toDF("doc_id", "text")
    val r = graft.api.TextAnalysis.repetitionStats(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    // "a a a a b": top word 4/5; bigrams [a a, a a, a a, a b] -> 2 distinct of 4
    assert(r(1L) === ((0.8, 0.5)))
    // all-distinct text: no repetition on either axis
    assert(r(2L) === ((0.25, 0.0)))
    // single-word docs have no bigram and are dropped
    assert(!r.contains(3L))
  }

  test("k-means keeps empty cells alive (k stays k)") {
    val s = SparkTestSession.spark
    import s.implicits._
    // two IDENTICAL initial centroids (init = lowest-id vectors): every
    // point ties and assigns to the lower cell id, so cell 1 captures
    // nothing in round 1 — it must keep its previous centroid, not
    // silently vanish from the result
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.9, 0.1)), (3L, Seq(0.8, 0.2))
    ).toDF("vec_id", "embedding")
    val cents = graft.api.Similarity.kmeansCentroids(
      vecs, "vec_id", "embedding", k = 2, iters = 2).collect()
    assert(cents.length === 2, "empty cell must not shrink k")
    assert(cents.map(_.getLong(0)).toSet === Set(0L, 1L))
  }

  test("LSH-blocked embedding pairs are a subset of all-pairs, and find identical vectors") {
    val s = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sample = graft.ops.H.t(s, sfDir, "embeddings")
      .filter(col("vec_id") % 100 === 0)
    val blocked = keys(graft.api.Dedup.embeddingPairsLsh(
      sample, "vec_id", "embedding", threshold = 0.2, bits = 4))
    val all = keys(graft.api.Dedup.embeddingPairs(
      sample, "vec_id", "embedding", threshold = 0.2))
    assert(blocked.subsetOf(all), "blocking prunes candidates, never adds")
    // identical vectors share every sign bit → always found
    import s.implicits._
    val planted = sample.limit(1)
      .select(lit(900001L).as("vec_id"), col("embedding"))
      .union(sample.limit(1).select(lit(900002L).as("vec_id"), col("embedding")))
      .union(sample.select(col("vec_id").cast("long"), col("embedding")))
    val found = keys(graft.api.Dedup.embeddingPairsLsh(
      planted, "vec_id", "embedding", threshold = 0.99, bits = 8))
    assert(found.contains((900001L, 900002L)))
  }

  test("language id predicts a language for every document") {
    val d = run("q_lang_id")
    assert(d.count() === 500)
    assert(d.filter("predicted IS NULL").count() === 0)
  }

  test("connected components converge on a 1000-node path (diameter >> maxIter)") {
    val s = SparkTestSession.spark
    import s.implicits._
    // a 1000-node path + isolated pair: worst-case shape for min-label
    // propagation (O(diameter) rounds would blow the 20-round budget by
    // 50x); the alternating large-star/small-star rounds contract it to
    // stars in O(log n), so the default maxIter must suffice
    val edges = ((1L until 1000L).map(i => (i + 1, i)) :+ (2000L, 2001L))
      .toDF("doc_a", "doc_b")
    // localFinishEdges = 0 forces the DISTRIBUTED star path: this test
    // pins the shuffle algorithm's round count, not the driver finish
    val cl = graft.api.Dedup.duplicateClusters(edges, localFinishEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.size === 1002)
    (1L to 1000L).foreach(i => assert(cl(i) === 1L, s"node $i"))
    assert(cl(2000L) === 2000L && cl(2001L) === 2000L)
    // round pin: the batched fixpoint must land within the default
    // budget with room to spare — a regression to O(diameter) rounds
    // (or a broken fused convergence check spinning to maxIter) fails
    // here, not as a silent 50x slowdown in the bench
    val rounds = graft.api.Dedup.lastStarRounds.get
    assert(rounds >= 2 && rounds <= 16,
      s"1000-node path took $rounds star rounds (expected O(log n) <= 16)")
  }

  test("connected components: deep chain exercises the raised round ceiling") {
    val s = SparkTestSession.spark
    import s.implicits._
    // a 2^13-node chain needs ~2*13 star rounds — comfortably past the
    // OLD 20-round ceiling, under the raised default of 60. The loop
    // checkpoints every batch and releases superseded blocks, so depth
    // costs patience, not lineage: this run pins that the ceiling (the
    // one thing that previously capped component size at ~2^10 chains)
    // is gone, and that the round count stays O(log n).
    val n = 8192L
    val edges = (1L until n).map(i => (i + 1, i)).toDF("doc_a", "doc_b")
    val cl = graft.api.Dedup.duplicateClusters(edges, localFinishEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.size === n)
    assert(cl(1L) === 1L && cl(n) === 1L && cl(n / 2) === 1L,
      "every chain node labels from the minimum")
    assert(cl.values.forall(_ == 1L))
    val rounds = graft.api.Dedup.lastStarRounds.get
    assert(rounds >= 2 && rounds <= 40,
      s"8192-node chain took $rounds star rounds (expected O(log n) <= 40)")
  }

  test("connected components: local union-find finish equals the distributed fixpoint") {
    val s = SparkTestSession.spark
    import s.implicits._
    // a random multigraph with self-loops, isolated pairs, chains and
    // merged blobs — both paths must produce IDENTICAL min labels
    val rnd = new scala.util.Random(7)
    val edges = ((0 until 3000).map { _ =>
      (rnd.nextInt(800).toLong, rnd.nextInt(800).toLong)
    } ++ Seq((5000L, 5000L), (6000L, 6001L)) ++
      (9000L until 9050L).map(i => (i, i + 1)))
      .toDF("doc_a", "doc_b")
    val viaLocal = graft.api.Dedup.duplicateClusters(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(graft.api.Dedup.lastStarRounds.get === 0,
      "under the threshold the finish must be local (zero star rounds)")
    val viaStars = graft.api.Dedup.duplicateClusters(edges, localFinishEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLocal === viaStars,
      "local union-find and star fixpoint must label identically")
    // mid-loop finish: force one distributed batch, then finish locally
    // (threshold between the contracted and the raw edge counts)
    val raw = edges.selectExpr("least(doc_a, doc_b) AS u",
        "greatest(doc_a, doc_b) AS v")
      .filter($"u" =!= $"v").distinct().count()
    val viaMid = graft.api.Dedup.duplicateClusters(edges,
        localFinishEdges = math.max(1, raw - 1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaMid === viaStars,
      "a mid-loop local finish must label identically too")
    // HALF-NULL pairs must contribute nothing on EITHER path:
    // least/greatest skip nulls, so an unfiltered fast path would mint
    // a synthetic self-pair (x, x) the distributed filters never emit
    val withNull = Seq((Some(1L), Some(2L)), (Some(7L), None),
      (None, Some(8L)), (None: Option[Long], None: Option[Long]))
      .toDF("doc_a", "doc_b")
    for (thr <- Seq(0L, 500000L)) {
      val got = graft.api.Dedup.duplicateClusters(withNull,
          localFinishEdges = thr)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 1L), (2L, 1L)),
        s"half-null pairs must vanish identically (threshold=$thr): $got")
    }
    // non-Long integral ids work on both paths with ONE canonical
    // (BIGINT) output schema — the star path used to be type-agnostic
    // and the driver finish must not narrow that to a crash
    val intEdges = Seq((1, 2), (2, 3), (9, 9)).toDF("doc_a", "doc_b")
    for (thr <- Seq(0L, 500000L)) {
      val df = graft.api.Dedup.duplicateClusters(intEdges,
        localFinishEdges = thr)
      assert(df.schema.fields.map(_.dataType).toSeq ===
        Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.LongType))
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L)),
        s"int-typed ids label identically (threshold=$thr)")
    }
  }

  test("incremental dedup equals the full pair set restricted to cross-partition pairs") {
    val expected = pairs("q_dedup_near").filter { case (a, b) =>
      (a % 10 == 0) != (b % 10 == 0)
    }
    assert(pairs("q_dedup_incr") === expected)
  }

  test("duplicate clustering is a fixpoint labeling of the pair graph") {
    val cl = run("q_dedup_cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every pair's endpoints share a cluster label
    pairs("q_dedup_near").foreach { case (a, b) =>
      assert(cl(a) === cl(b), s"pair ($a,$b) split across clusters")
    }
    // each cluster's label is its minimum member id
    cl.groupBy(_._2).foreach { case (label, members) =>
      assert(label === members.keys.min)
    }
  }

  test("LSH ANN candidates carry exact cosines and share one bucket") {
    val rows = run("q_sim_ann_lsh").collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.map(r => r.getLong(1)).distinct.length === 1,
      "single-probe: all candidates from the query's bucket")
    // cosines must agree with the exact brute-force scores for the
    // same ids (LSH prunes candidates, never alters scoring)
    val exact = SparkEntry.queries("q_sim_knn_batch") // qid<10 incl. 1
      .apply(SparkTestSession.spark, SparkTestSession.sfDir)
      .filter("qid = 1").collect()
      .map(r => r.getLong(2) -> r.getDouble(3)).toMap
    rows.foreach { r =>
      exact.get(r.getLong(0)).foreach(c => assert(c === r.getDouble(2)))
    }
    val cos = rows.map(_.getDouble(2)).toSeq
    assert(cos === cos.sorted.reverse, "descending by cosine")
  }

  test("multi-probe LSH recalls at least as much as single-probe") {
    val s = SparkTestSession.spark
    val e = graft.ops.H.t(s, sfDir, "embeddings")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val exact = ids(graft.api.Similarity.topK(e, "vec_id", "embedding",
      queryId = 1, k = 10))
    val single = ids(graft.api.Similarity.lshTopK(e, "vec_id", "embedding",
      queryId = 1, k = 10, bits = 6))
    val multi = ids(graft.api.Similarity.lshTopKMultiProbe(e, "vec_id",
      "embedding", queryId = 1, k = 10, bits = 6))
    assert((multi & exact).size >= (single & exact).size,
      "the Hamming-1 ring may only add candidates")
    assert(multi.nonEmpty && multi.size <= 10)
  }

  test("winnowing: shared substrings of length >= k+w-1 share a fingerprint") {
    import org.apache.spark.sql.functions._
    val s = SparkTestSession.spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "xx the quick brown fox sleeps all day zz"),
      (3L, "completely unrelated content 1234567890")).toDF("doc_id", "text")
    val fps = graft.api.TextAnalysis.winnow(docs, "doc_id", "text", k = 5, w = 3)
    assert(fps.count() === 3)
    // recompute full fingerprint sets to check the overlap guarantee
    val full = docs.select(col("doc_id"), expr(
      """transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))""").as("grams"))
      .select(col("doc_id"), expr(
        """transform(grams, g -> aggregate(
             transform(sequence(2, 5), j -> CAST(ascii(substring(g, j, 1)) AS BIGINT)),
             CAST(ascii(substring(g, 1, 1)) AS BIGINT),
             (acc, c) -> (acc * 31 + c) % 1000003))""").as("hs"))
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(1, size(hs) - 2),
                         i -> array_min(slice(hs, i, 3))))""").as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((full(1L) intersect full(2L)).nonEmpty,
      "docs sharing 'the quick brown fox' must share a fingerprint")
    assert((full(1L) intersect full(3L)).isEmpty,
      "unrelated docs should not collide at this size")
  }
}
