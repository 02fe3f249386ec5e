package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.{Decontamination, Dedup, Packing, Similarity, Sketches, TextAnalysis}

/** The public API surface over arbitrary DataFrames (not the test-table
  * bindings): the contracts a library user depends on.
  */
class ApiSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("sorted_intersect_size agrees with size(array_intersect) on real shingles") {
    graft.functions.SetFunctions.register(spark)
    val edge = spark.sql(
      """SELECT sorted_intersect_size(array('a','b','c'), array('b','c','d')) AS n1,
                sorted_intersect_size(CAST(array() AS ARRAY<STRING>), array('x')) AS n2,
                sorted_intersect_size(array('a'), array('b')) AS n3,
                sorted_intersect_size(array('a','b'), array('a','b')) AS n4""")
      .collect().head
    assert((edge.getLong(0), edge.getLong(1), edge.getLong(2), edge.getLong(3))
      === ((2L, 0L, 0L, 2L)))
    // cross-check the fused merge against the builtin on all shingle pairs
    // of the first 40 docs (sorted+distinct by the shingles contract)
    val sh = Dedup.shingles(docs.filter(col("doc_id") < 40), "doc_id", "text")
    val a = sh.select(col("doc_id").as("ida"), col("toks").as("ta"))
    val b = sh.select(col("doc_id").as("idb"), col("toks").as("tb"))
    val mismatches = a.crossJoin(b)
      .withColumn("fused", expr("sorted_intersect_size(ta, tb)"))
      .withColumn("builtin", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(col("fused") =!= col("builtin")).count()
    assert(mismatches === 0)
  }

  test("cluster-based dedup keeps exactly one representative per component") {
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val clusters = Dedup.duplicateClusters(Dedup.nearDuplicatePairs(sh, 0.5))
    val losers = clusters.filter(col("doc_id") =!= col("cluster"))
    val kept = Dedup.dropNearDuplicatesByCluster(docs, "doc_id", "text", 0.5)
    assert(kept.count() === docs.count() - losers.count())
    // each component keeps precisely its min-id member
    val keptPerCluster = clusters
      .join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("cluster").count()
    assert(keptPerCluster.filter(col("count") =!= 1).count() === 0)
  }

  test("duplicateClusters/connectedComponents reject non-integral ids loudly") {
    // string ids used to cast to NULL (non-ANSI) and silently return an
    // EMPTY result — the failure must be an error naming the contract
    val strPairs = spark.createDataFrame(Seq(("a", "b"), ("b", "c")))
      .toDF("doc_a", "doc_b")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.duplicateClusters(strPairs)
    }
    assert(e1.getMessage.contains("integral") &&
      e1.getMessage.contains("surrogate"))
    val e2 = intercept[IllegalArgumentException] {
      graft.api.Graphs.connectedComponents(
        spark.createDataFrame(Seq(("a", "b"))).toDF("s", "d"), "s", "d")
    }
    assert(e2.getMessage.contains("integral") && e2.getMessage.contains("'s'"))
  }

  test("keepBestPerCluster keeps exactly the max-score member per component") {
    // planted components: {1,2,3} and {10,11}; 20 is a singleton outside
    val docsDf = spark.createDataFrame(Seq(
      (1L, 5L), (2L, 9L), (3L, 7L), (10L, 4L), (11L, 4L), (20L, 1L)
    )).toDF("doc_id", "quality")
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (10L, 11L)
    )).toDF("doc_a", "doc_b")
    val kept = Dedup.keepBestPerCluster(docsDf, "doc_id",
        Dedup.duplicateClusters(pairs), "quality")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // component {1,2,3}: doc 2 wins on quality; {10,11}: tie -> min id 10;
    // 20 is untouched
    assert(kept === Set(2L, 10L, 20L))
  }

  test("dropNearDuplicates removes exactly the pair losers") {
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val losers = Dedup.nearDuplicatePairs(sh, 0.5)
      .select("doc_b").distinct().count()
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text", 0.5)
    assert(kept.count() === docs.count() - losers)
  }

  test("minhash and exact pair sets agree through the API") {
    val sh = Dedup.shingles(docs, "doc_id", "text")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys(Dedup.minhashPairs(sh, 0.5)) === keys(Dedup.nearDuplicatePairs(sh, 0.5)))
  }

  test("hot-shingle df cap bounds candidates without losing true pairs") {
    val s = spark; import s.implicits._
    // 200 docs sharing only a boilerplate prefix (df≈200 hot shingles,
    // pairwise jaccard ~0.17) + one genuine near-dup pair whose overlap
    // is rare shingles (jaccard 0.75)
    val boiler = (1L to 200L).map(i =>
      (i, s"click here to subscribe now tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e"))
    val dups = Seq(
      (9001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9002L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val sh = Dedup.shingles((boiler ++ dups).toDF("doc_id", "text"),
      "doc_id", "text")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap well below the hot df: the true pair must survive on its rare
    // shingles, and nothing boilerplate-only may appear
    assert(keys(Dedup.nearDuplicatePairs(sh, 0.5, maxDf = 50))
      === Set((9001L, 9002L)))
    // identical result uncapped: the cap traded zero recall here
    assert(keys(Dedup.nearDuplicatePairs(sh, 0.5, maxDf = Int.MaxValue))
      === Set((9001L, 9002L)))
  }

  test("decontamination flags exactly the docs sharing an eval n-gram") {
    import spark.implicits._
    // corpus doc 1 shares the 4-gram "w x y z" with eval doc 100; docs 2
    // and 3 are clean; eval docs 100 and 101 both contain the gram, so
    // doc 1 hits 2 eval docs through 1 distinct gram
    val corpus = Seq(
      (1L, "a b c w x y z d e"),
      (2L, "p q r s t u v"),
      (3L, "m n o k l i j")).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "w x y z q q q q"),
      (101L, "h h w x y z h h")).toDF("doc_id", "text")
    val rep = Decontamination.contaminationReport(
        Dedup.shingles(corpus, "doc_id", "text"),
        Dedup.shingles(eval, "doc_id", "text"))
      .collect()
    assert(rep.length === 1)
    val r = rep.head
    assert(r.getLong(0) === 1L)         // doc_id
    assert(r.getLong(1) === 1L)         // n_gram_hits: just "w x y z"
    assert(r.getLong(2) === 2L)         // n_eval_docs: both eval docs
    val kept = Decontamination.dropContaminated(corpus, "doc_id",
      Dedup.shingles(corpus, "doc_id", "text"),
      Dedup.shingles(eval, "doc_id", "text"))
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(2L, 3L))
  }

  test("greedy packing seals bins at the budget and isolates oversize docs") {
    import spark.implicits._
    val d = Seq(
      // stratum a: 60+60 fit in 150, +40 overflows? 120+40=160>150 → new bin
      ("a", 1L, 60L), ("a", 2L, 60L), ("a", 3L, 40L), ("a", 4L, 100L),
      // stratum b: oversize doc alone in its bin, then a fresh bin
      ("b", 1L, 200L), ("b", 2L, 10L)).toDF("lang", "doc_id", "n")
    val packed = Packing.packGreedy(d, "doc_id", "lang", "n", budget = 150L)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(packed === Set(
      ("a", 1L, 60L, 0L), ("a", 2L, 60L, 0L), ("a", 3L, 40L, 1L),
      ("a", 4L, 100L, 1L),
      ("b", 1L, 200L, 0L), ("b", 2L, 10L, 1L)))
    // deterministic under any input partitioning (secondary sort owns order)
    val repacked = Packing.packGreedy(d.repartition(7), "doc_id", "lang",
        "n", budget = 150L)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(repacked === packed)
    // zero-token docs follow the same fold as the recursive-CTE oracle:
    // first doc pins bin 0 even at fill 0, an oversize doc still seals
    val zeros = Seq(("z", 1L, 0L), ("z", 2L, 300L), ("z", 3L, 0L),
        ("z", 4L, 10L)).toDF("lang", "doc_id", "n")
    val zpacked = Packing.packGreedy(zeros, "doc_id", "lang", "n", 150L)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(zpacked === Set(("z", 1L, 0L, 0L), ("z", 2L, 300L, 1L),
      ("z", 3L, 0L, 2L), ("z", 4L, 10L, 2L)))
    val stats = Packing.binStats(
        Packing.packGreedy(d, "doc_id", "lang", "n", budget = 150L), 150L)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(stats === Set(("a", 0L, 2L, 120L, 30L), ("a", 1L, 2L, 140L, 10L),
      ("b", 0L, 1L, 200L, 0L), ("b", 1L, 1L, 10L, 140L)))
  }

  test("packGreedy matches a driver-side reference fold on random corpora") {
    import spark.implicits._
    // seeded random corpus: 7 strata, token counts spanning zero, normal,
    // and oversize-vs-budget docs, ids shuffled across partitions
    val rnd = new scala.util.Random(42)
    val rows = (1 to 300).map { i =>
      (s"s${rnd.nextInt(7)}", i.toLong, rnd.nextInt(401).toLong)
    }
    val budget = 150L
    val packed = Packing.packGreedy(
        rows.toDF("stratum", "doc_id", "n").repartition(11),
        "doc_id", "stratum", "n", budget)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    // reference: sequential next-fit per stratum in doc_id order
    val expected = rows.groupBy(_._1).flatMap { case (st, ds) =>
      var bin = 0L; var fill = 0L; var first = true
      ds.sortBy(_._2).map { case (_, id, n) =>
        if (first) { fill = n; first = false }
        else if (fill + n > budget) { bin += 1; fill = n }
        else fill += n
        (st, id) -> bin
      }
    }
    assert(packed === expected)
    // invariant: a bin either fits the budget or holds exactly one doc
    val byBin = rows.map { case (st, id, n) => (st, packed((st, id)), n) }
      .groupBy(t => (t._1, t._2)).values
    assert(byBin.forall(ds => ds.map(_._3).sum <= budget || ds.size == 1))
  }

  test("PII redaction masks planted emails, IPs, and phones in order") {
    import spark.implicits._
    val d = Seq(
      (1L, "write to alice.smith+spam@example.co.uk or call +1 (555) 123-4567 now"),
      (2L, "server at 192.168.10.255 and 10.0.0.1 responded"),
      (3L, "no personal data in this one at all"),
      // compact phone formats must mask; dates / long digit runs /
      // out-of-range quads must survive INTACT (not partially mangled)
      (4L, "(555)123-4567 or 555.123.4567 or 5551234567"),
      (5L, "released 2024-08-12 id 12345678901234 host 256.1.1.1 up")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(d, "doc_id", "text")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(r(0)._2 === "write to <EMAIL> or call <PHONE> now")
    assert((r(0)._3, r(0)._4, r(0)._5) === ((1L, 0L, 1L)))
    assert(r(1)._2 === "server at <IP> and <IP> responded")
    assert((r(1)._3, r(1)._4, r(1)._5) === ((0L, 2L, 0L)))
    assert(r(2)._2 === "no personal data in this one at all")
    assert((r(2)._3, r(2)._4, r(2)._5) === ((0L, 0L, 0L)))
    assert(r(3)._2 === "<PHONE> or <PHONE> or <PHONE>")
    assert(r(3)._5 === 3L)
    assert(r(4)._2 === "released 2024-08-12 id 12345678901234 host 256.1.1.1 up")
    assert((r(4)._3, r(4)._4, r(4)._5) === ((0L, 0L, 0L)))
  }

  test("simhash auditable mode pairs identical docs at hamming 0") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words about unrelated topics here now")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(corpus, "doc_id", "text")
    val shaHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      tok => conv(substring(sha2(tok, 256), 1, 15), 16, 10).cast("long")
    val pairs = Dedup.simhashPairs(sh, maxHamming = 0,
      tokenHash = Some(shaHash)).as[(Long, Long, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L, 0L)))
    // sha-mode signatures stay within 60 bits (bits 60-63 identically 0)
    graft.functions.SimHashAgg.register(spark)
    val sigs = sh
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .select(col("doc_id"), shaHash(col("tok")).as("tok"))
      .groupBy("doc_id").agg(expr("simhash_sig(tok)").as("sig"))
      .select(max(col("sig")).as("mx"), min(col("sig")).as("mn"))
      .collect().head
    assert(sigs.getLong(0) < (1L << 60) && sigs.getLong(1) >= 0L)
  }

  test("knnJoin returns k ordered neighbors per query") {
    val out = Similarity.knnJoin(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 5).collect()
    assert(out.length === 15)
    assert(out.map(_.getLong(0)).distinct.sorted.toSeq === Seq(0L, 1L, 2L))
  }

  test("int8 quantization bounds components and reconstructs within half a step") {
    val qz = Similarity.quantize(emb, "vec_id", "embedding")
    val bad = qz
      .join(emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")), "vec_id")
      .withColumn("err", expr(
        """aggregate(zip_with(q, v, (a, b) ->
             abs(CAST(a AS DOUBLE) * scale - b)), 0.0D, (m, x) -> greatest(m, x))"""))
      .withColumn("qmax", expr(
        "aggregate(q, 0, (m, x) -> greatest(m, abs(CAST(x AS INT))))"))
      .filter(col("qmax") > 127 ||
        col("err") > col("scale") / 2 + lit(1e-12))
      .count()
    assert(bad === 0)
    // all-zero vectors quantize to all zeros instead of dividing by zero
    val z = Similarity.quantize(
      spark.sql("SELECT 1L AS vec_id, array(0.0F, 0.0F, 0.0F) AS embedding"),
      "vec_id", "embedding").collect().head
    assert(z.getAs[Seq[Byte]]("q") === Seq(0: Byte, 0: Byte, 0: Byte))
    assert(z.getAs[Double]("scale") === 0.0)
  }

  test("quantized top-k preserves the exact cosine ranking on real embeddings") {
    val exact = Similarity.topK(emb, "vec_id", "embedding", 1, 10)
      .collect().map(_.getLong(0)).toSet
    val quant = Similarity.quantizedTopK(emb, "vec_id", "embedding", 1, 10)
      .collect().map(_.getLong(0)).toSet
    assert((exact & quant).size >= 8,
      s"int8 top-10 lost too much recall: exact=$exact quant=$quant")
  }

  test("quantized IVF probes the same cells and keeps recall vs exact IVF") {
    val cents = emb.filter(col("vec_id") < 16)
    val exact = Similarity.ivfTopK(emb, cents, "vec_id", "embedding",
      queryId = 1, k = 10, nProbe = 4).collect()
    val quant = Similarity.ivfQuantizedTopK(emb, cents, "vec_id", "embedding",
      queryId = 1, k = 10, nProbe = 4).collect()
    // candidates must come only from probed cells (≤ nProbe distinct
    // cell ids in the result), and the full k must be found
    assert(quant.length == 10)
    assert(quant.map(_.getLong(1)).toSet.size <= 4,
      "quantized IVF returned rows from more cells than it probes")
    assert((exact.map(_.getLong(0)).toSet & quant.map(_.getLong(0)).toSet).size >= 8,
      s"int8 IVF top-10 lost too much recall vs exact IVF")
  }

  test("token chunking covers every token with exact overlaps") {
    val corpus = spark.createDataFrame(Seq(
      (1L, (1 to 40).map(i => s"t$i").mkString(" ")),
      (2L, "a b"), (3L, "x")
    )).toDF("doc_id", "text")
    val ch = TextAnalysis.chunkTokens(corpus, "doc_id", "text",
      size = 16, overlap = 4).orderBy("doc_id", "chunk_idx").collect()
    val c1 = ch.filter(_.getLong(0) == 1L)
    // starts 1, 13, 25 over 40 tokens; a start at 37 would be a strict
    // subset of the chunk at 25 (which already reaches token 40)
    assert(c1.length === 3)
    assert(c1.map(_.getLong(3)).toSeq === Seq(16L, 16L, 16L))
    val first = c1(0).getString(2).split(" ")
    val second = c1(1).getString(2).split(" ")
    assert(first.takeRight(4).toSeq === second.take(4).toSeq,
      "adjacent full chunks must share exactly `overlap` tokens")
    val rebuilt = c1.zipWithIndex.flatMap { case (r, i) =>
      val toks = r.getString(2).split(" ").toSeq
      if (i == 0) toks else toks.drop(4)
    }
    assert(rebuilt.toSeq === (1 to 40).map(i => s"t$i"),
      "dropping repeated overlaps must reconstruct the document")
    assert(ch.filter(_.getLong(0) == 3L).map(_.getString(2)).toSeq === Seq("x"))
  }

  test("z-order layout keeps BOTH columns' per-file spread narrow") {
    import graft.api.Layout
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1992-01-01")).as("dkey"))
    val base = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    Layout.zorderWrite(orders, "o_custkey", "dkey", s"$base/z", nFiles = 16)
    orders.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(s"$base/s")
    def spread(path: String, c: String): Double = {
      val per = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).cast("double").as("sp"))
        .agg(avg("sp")).head().getDouble(0)
      val full = spark.read.parquet(path)
        .agg((max(col(c)) - min(col(c))).cast("double")).head().getDouble(0)
      per / full
    }
    val (zC, zD) = (spread(s"$base/z", "o_custkey"), spread(s"$base/z", "dkey"))
    val (sC, sD) = (spread(s"$base/s", "o_custkey"), spread(s"$base/s", "dkey"))
    // the single-column sort keeps its own column tight but spans the
    // FULL secondary range per file; z-order trades a little primary
    // spread for fractional spread on both — that is the file-skipping
    // win for secondary-column predicates
    assert(sD > 0.9, f"custkey-sorted files should span ~full dkey range: $sD%.2f")
    assert(zD < 0.6 * sD, f"z-order dkey spread $zD%.2f !< 0.6 x $sD%.2f")
    assert(zC < 0.6, f"z-order custkey spread should stay fractional: $zC%.2f (sorted: $sC%.2f)")
  }

  test("random projection is linear: a planted colinear vector ranks first") {
    // recall@10 on the isotropic synthetic embeddings is noise-bound (all
    // cosines concentrate), so the pin is the exact property instead:
    // projection is linear, so rp-cosine of a positively-scaled copy is
    // exactly 1.0 and it must outrank every true corpus vector.
    val copy = emb.filter(col("vec_id") === 1)
      .select(lit(9001L).as("vec_id"),
        expr("transform(embedding, x -> x * CAST(0.5 AS FLOAT))").as("embedding"))
    val planted = emb.select(col("vec_id"), col("embedding")).union(copy)
    val top = Similarity.rpTopK(planted, "vec_id", "embedding",
      queryId = 1, k = 3, dOut = 16).collect()
    assert(top.head.getLong(0) === 9001L, top.mkString(";"))
    assert(top.head.getDouble(1) === 1.0, top.mkString(";"))
  }

  test("linear counting estimates distinct terms within a few percent") {
    val truth = docs.select(explode(split(col("text"), " ")).as("t"))
      .distinct().count()
    val r = Sketches.linearCountDistinct(docs, "text").head()
    val est = r.getDouble(2)
    assert(math.abs(est - truth) / truth < 0.05,
      s"linear count est=$est vs true=$truth")
    assert(r.getLong(1) <= truth, "occupancy can only collide downward")
  }

  test("cms estimates never underestimate and sketches merge by summation") {
    val probes = Seq("merge", "scan", "table", "zzz_absent")
    val sk = Sketches.cmsSketch(docs, "text")
    val est = Sketches.cmsEstimate(sk, probes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = docs.select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t").isin(probes: _*))
      .groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    probes.foreach { t =>
      assert(est(t) >= truth.getOrElse(t, 0L),
        s"cms underestimated '$t': ${est(t)} < ${truth.getOrElse(t, 0L)}")
    }
    // merging per-split sketches by (seed, bucket) summation must equal
    // the whole-corpus sketch: identical probe estimates
    val merged = Sketches.cmsSketch(docs.filter(col("doc_id") % 2 === 0), "text")
      .union(Sketches.cmsSketch(docs.filter(col("doc_id") % 2 === 1), "text"))
      .groupBy("seed", "bucket").agg(sum(col("n")).as("n"))
    val estM = Sketches.cmsEstimate(merged, probes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estM === est, s"merged sketch drifted: $estM vs $est")
  }

  test("sketches and chunking hold their contracts on seeded random corpora") {
    for (seed <- Seq(7, 41)) {
      val rnd = new scala.util.Random(seed)
      val words = Vector("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
      val corpus = spark.createDataFrame((1 to 50).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(30) + 1)(words(rnd.nextInt(words.size)))
          .mkString(" "))
      }).toDF("doc_id", "text")
      corpus.cache().count()
      val truth = corpus.select(explode(split(col("text"), " ")).as("t"))
        .groupBy("t").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val probes = words.take(6) ++ Seq("absent1", "absent2")
      // count-min never underestimates, on any corpus
      val est = Sketches.cmsEstimate(
        Sketches.cmsSketch(corpus, "text"), probes)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      probes.foreach { t =>
        assert(est(t) >= truth.getOrElse(t, 0L), s"seed=$seed cms under on '$t'")
      }
      // bloom has no false negatives, on any corpus
      val present = truth.keys.toSeq.sorted
      val maybe = Sketches.bloomContains(
        Sketches.bloomSketch(corpus, "text"), present)
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      present.foreach { t =>
        assert(maybe(t), s"seed=$seed bloom false negative on '$t'")
      }
      // chunking reconstructs every doc for random size/overlap combos
      val (size, overlap) = (rnd.nextInt(8) + 2, rnd.nextInt(2))
      val step = size - overlap
      val chunks = TextAnalysis.chunkTokens(corpus, "doc_id", "text",
          size, overlap)
        .orderBy("doc_id", "chunk_idx").collect()
        .groupBy(_.getLong(0))
      corpus.collect().foreach { r =>
        val toks = r.getString(1).split(" ").toSeq
        val cs = chunks(r.getLong(0)).toSeq
        assert(cs.forall(_.getLong(3) <= size))
        val expected = if (toks.length <= size) 1
          else 1 + (toks.length - size + step - 1) / step
        assert(cs.length === expected)
        val rebuilt = cs.zipWithIndex.flatMap { case (c, i) =>
          val ct = c.getString(2).split(" ").toSeq
          if (i == 0) ct else ct.drop(overlap)
        }
        assert(rebuilt === toks, s"seed=$seed doc=${r.getLong(0)}")
      }
      corpus.unpersist()
    }
  }

  test("dataset split partitions every row and is stable under growth") {
    import graft.api.Mixing
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val full = Mixing.assignSplit(docs, "doc_id", splits)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full.size === 500) // every row assigned exactly once
    val frac = full.values.groupBy(identity).view.mapValues(_.size / 500.0)
    assert(math.abs(frac("train") - 0.8) < 0.06, frac.toMap)
    // growth stability: the same doc gets the same split on ANY subset
    val half = Mixing.assignSplit(docs.filter(col("doc_id") < 250),
        "doc_id", splits)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    half.foreach { case (id, s) => assert(full(id) === s, s"doc $id moved") }
  }

  test("temperature rates: natural at alpha=1, equalizing at alpha=0, monotone") {
    import graft.api.Mixing
    val counts = Map("crawl" -> 1000000L, "wiki" -> 10000L, "books" -> 1000L)
    val natural = Mixing.temperatureRates(counts, alpha = 1.0)
    assert(natural.values.forall(_ == 1.0), // EXACTLY 1: threshold(1-ulp)
      s"alpha=1 must keep the natural mixture bit-exactly: $natural")
    val equal = Mixing.temperatureRates(counts, alpha = 0.0)
    // equal target shares: rate_s proportional to 1/count_s, smallest source binds
    assert(equal("books") === 1.0)
    assert(math.abs(equal("crawl") - 1000.0 / 1000000) < 1e-12)
    val mid = Mixing.temperatureRates(counts, alpha = 0.5)
    assert(mid("books") >= mid("wiki") && mid("wiki") >= mid("crawl"),
      s"smaller sources must keep at least the larger's rate: $mid")
    assert(mid("books") === 1.0, "the binding source must lose nothing")
  }

  test("funnel stages: ordered within-window progress, first match wins") {
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val events = spark.createDataFrame(Seq(
      // user 1: full funnel in order, inside the hour
      (1L, ts(0), "view"), (1L, ts(10), "click"), (1L, ts(20), "purchase"),
      // user 2: click BEFORE the first view never counts
      (2L, ts(0), "click"), (2L, ts(10), "view"), (2L, ts(20), "purchase"),
      // user 3: purchase lands outside the 30-min window of the view
      (3L, ts(0), "view"), (3L, ts(5), "click"), (3L, ts(45), "purchase"),
      // user 4: never enters the funnel
      (4L, ts(0), "purchase")
    )).toDF("user_id", "ts", "event_type")
    val stages = graft.api.Funnels.funnelStages(events, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        windowMicros = 30L * 60 * 1000000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stages === Map(1L -> 3L, 2L -> 1L, 3L -> 2L, 4L -> 0L), stages)
    // 8 steps is the documented maximum (3-bit step field): completing
    // all of them must report stage 8, not overflow the encoded state
    // (2^59 split holds: 8·2^59 + t0 < 2^63)
    val names = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    val eight = spark.createDataFrame(
      names.zipWithIndex.map { case (n, i) => (9L, ts(i), n) }
    ).toDF("user_id", "ts", "event_type")
    val s8 = graft.api.Funnels.funnelStages(eight, "user_id", "ts",
        "event_type", names, windowMicros = 3600000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s8 === Map(9L -> 8L), s8)
    intercept[IllegalArgumentException] {
      graft.api.Funnels.funnelStages(eight, "user_id", "ts", "event_type",
        names :+ "i", windowMicros = 3600000000L)
    }
  }

  test("funnel: 5-step planted sequence with a mid-funnel stall") {
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val steps = Seq("s1", "s2", "s3", "s4", "s5")
    val events = spark.createDataFrame(Seq(
      // user 1 walks all five steps inside the window
      (1L, ts(0), "s1"), (1L, ts(2), "s2"), (1L, ts(4), "s3"),
      (1L, ts(6), "s4"), (1L, ts(8), "s5"),
      // user 2 stalls after s3 (s4 never arrives; s5 alone can't count)
      (2L, ts(0), "s1"), (2L, ts(2), "s2"), (2L, ts(4), "s3"),
      (2L, ts(6), "s5")
    )).toDF("user_id", "ts", "event_type")
    val st = graft.api.Funnels.funnelStages(events, "user_id", "ts",
        "event_type", steps, windowMicros = 3600000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st === Map(1L -> 5L, 2L -> 3L), st)
  }

  test("funnel keeps an all-null-timestamp user as a stage-0 row") {
    // collect_list parity: a null-ts event contributes nothing, but the
    // user's group row must still exist (the oracle's list(enc) keeps
    // NULL elements, which no-op every reduce arm)
    val events = spark.createDataFrame(Seq(
      (1L, Option(java.sql.Timestamp.valueOf("2026-01-01 10:00:00")), "view"),
      (2L, Option.empty[java.sql.Timestamp], "view"),
      (2L, Option.empty[java.sql.Timestamp], "click")
    )).toDF("user_id", "ts", "event_type")
    val st = graft.api.Funnels.funnelStages(events, "user_id", "ts",
        "event_type", Seq("view", "click"), windowMicros = 3600000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st === Map(1L -> 1L, 2L -> 0L), st)
  }

  test("a second decoder drops into the multimodal operators unchanged") {
    import graft.multimodal.Multimodal
    // toy decoder: fixed 8x8, 4 frames, constant-byte kernels — proves
    // the operators run ANY PayloadDecoder through the same plumbing
    object Toy extends Multimodal.PayloadDecoder {
      @transient var inited = false
      override def init(): Unit = inited = true
      def dims(p: Array[Byte]) = (8, 8, 4)
      def frame(p: Array[Byte], idx: Int) = Array(idx.toByte)
      def thumb(p: Array[Byte], w: Int, h: Int) = Array(w.toByte, h.toByte)
    }
    val docs = spark.createDataFrame(Seq(
      (2L, "a video doc"), (3L, "an image doc")
    )).toDF("doc_id", "text") // doc_id % 3: 2 -> video/mp4, 0 -> image/png
    val meta = Multimodal.decodeMeta(spark, docs, Toy).collect()
      .map(m => m.doc_id -> ((m.width, m.height, m.n_frames))).toMap
    assert(meta === Map(2L -> ((8, 8, 4)), 3L -> ((8, 8, 1))))
    val frames = Multimodal.frameSample(spark, docs, everyK = 2, Toy)
      .collect().map(f => (f.doc_id, f.frame_idx, f.frame.toSeq)).toSet
    assert(frames === Set((2L, 0, Seq(0.toByte)), (2L, 2, Seq(2.toByte))))
    val thumbs = Multimodal.resize(spark, docs, maxDim = 4, Toy).collect()
      .map(t => (t.doc_id, t.width, t.height, t.thumb.toSeq)).toSet
    assert(thumbs === Set((2L, 4, 4, Seq(4.toByte, 4.toByte)),
      (3L, 4, 4, Seq(4.toByte, 4.toByte))))
  }

  test("ImageIODecoder decodes real PNG bytes through the same operators") {
    import graft.multimodal.Multimodal
    def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // a frame that already carries payload+media_type passes through
    // withPayload untouched — REAL image bytes reach the decoder
    val docs = spark.createDataFrame(Seq(
      (1L, pngBytes(6, 4, 0xff0000), "image/png"),
      (2L, pngBytes(3, 5, 0x00ff00), "image/png")
    )).toDF("doc_id", "payload", "media_type")
    val meta = Multimodal.decodeMeta(spark, docs, Multimodal.ImageIODecoder)
      .collect().map(m => m.doc_id -> ((m.width, m.height, m.n_frames))).toMap
    assert(meta === Map(1L -> ((6, 4, 1)), 2L -> ((3, 5, 1))),
      s"true header dims expected, got $meta")
    // true downscale: 6x4 at maxDim=2 -> 2x1, 3x5 -> 1x2 (floor, min 1);
    // the thumb is a genuine PNG whose decoded dims match, and a
    // uniform-color source downcales to the same color regardless of
    // which pixels nearest-neighbor picked
    val thumbs = Multimodal.resize(spark, docs, maxDim = 2,
      Multimodal.ImageIODecoder).collect()
    val byId = thumbs.map(t => t.doc_id -> t).toMap
    assert(byId(1L).width === 2 && byId(1L).height === 1)
    assert(byId(2L).width === 1 && byId(2L).height === 2)
    for ((id, rgb) <- Seq(1L -> 0xff0000, 2L -> 0x00ff00)) {
      val t = byId(id)
      val dec = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(t.thumb))
      assert(dec.getWidth === t.width && dec.getHeight === t.height,
        "thumb bytes must re-decode to the reported dims")
      assert((dec.getRGB(0, 0) & 0xffffff) === rgb,
        f"uniform source must stay uniform, got ${dec.getRGB(0, 0)}%06x")
    }
    // header-only dims and the single-decode scaled path agree with
    // the two-call dims+thumb form
    val p = pngBytes(6, 4, 0xff0000)
    assert(Multimodal.ImageIODecoder.dims(p) === ((6, 4, 1)))
    val (tw, th, tb) = Multimodal.ImageIODecoder.scaled(p, 2)
    assert((tw, th) === ((2, 1)))
    assert(tb.toSeq === Multimodal.ImageIODecoder.thumb(p, 2, 1).toSeq,
      "scaled must produce the same PNG bytes as dims+thumb")
  }

  test("semantic dedup keeps one representative per within-cell duplicate group") {
    import graft.api.Dedup
    // two well-separated cells; ids 1-3 are near-identical in cell 100
    // (min-id 1 survives), 4 and 5 share cell 200 but sit ~64 degrees
    // apart (both survive — dominance needs cosine >= threshold)
    val vecs = spark.createDataFrame(Seq(
      (1L, Seq(1.0, 0.01)), (2L, Seq(0.99, 0.012)), (3L, Seq(0.98, 0.02)),
      (4L, Seq(0.01, 1.0)), (5L, Seq(-1.0, 0.5))
    )).toDF("vec_id", "embedding")
    val cents = spark.createDataFrame(Seq(
      (100L, Seq(1.0, 0.0)), (200L, Seq(0.0, 1.0))
    )).toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(vecs, cents, "vec_id", "embedding",
        threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.keySet === Set(1L, 4L, 5L), s"min-id survivors expected, got $kept")
    assert(kept(1L) === 100L && kept(4L) === 200L && kept(5L) === 200L)
  }

  test("incremental semantic dedup admits only corpus-novel, peer-novel newcomers") {
    import graft.api.{Dedup, Similarity}
    val cents = spark.createDataFrame(Seq(
      (100L, Seq(1.0, 0.0)), (200L, Seq(0.0, 1.0))
    )).toDF("vec_id", "embedding")
    // settled corpus: one vector in cell 100
    val corpus = spark.createDataFrame(Seq((10L, Seq(1.0, 0.0))))
      .toDF("vec_id", "embedding")
    val corpusIdx = Similarity.ivfIndex(corpus, cents, "vec_id", "embedding")
    // newcomers: 1 duplicates the corpus (dropped); 2 is novel in cell
    // 200 (kept); 3 duplicates its lower-id peer 2 (dropped); 4 shares
    // cell 200 but sits far from 2 (kept)
    val incoming = spark.createDataFrame(Seq(
      (1L, Seq(0.999, 0.01)), (2L, Seq(0.01, 1.0)),
      (3L, Seq(0.012, 0.999)), (4L, Seq(-1.0, 0.5))
    )).toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedupIncrement(corpusIdx, cents, incoming,
        "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept === Map(2L -> 200L, 4L -> 200L),
      s"corpus-dominated and peer-dominated newcomers must drop, got $kept")
  }

  test("ImageIODecoder reports real frame counts and decodes the frame asked for") {
    import graft.multimodal.Multimodal
    // 3-frame animated GIF, each frame a distinct uniform color —
    // written via the JDK's own GIF sequence writer
    def gifBytes(colors: Seq[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      try {
        w.setOutput(ios)
        w.prepareWriteSequence(null)
        colors.foreach { rgb =>
          val img = new java.awt.image.BufferedImage(
            4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (x <- 0 until 4; y <- 0 until 4) img.setRGB(x, y, rgb)
          w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        w.endWriteSequence()
      } finally { w.dispose(); ios.close() }
      out.toByteArray
    }
    val gif = gifBytes(Seq(0xff0000, 0x00ff00, 0x0000ff))
    val (gw, gh, nf) = Multimodal.ImageIODecoder.dims(gif)
    assert((gw, gh, nf) === ((4, 4, 3)),
      s"animated GIF must report its true frame count, got ($gw, $gh, $nf)")
    // frame(idx) decodes frame idx, not frame 0 regardless
    for ((rgb, idx) <- Seq(0xff0000, 0x00ff00, 0x0000ff).zipWithIndex) {
      val dec = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.ImageIODecoder.frame(gif, idx)))
      assert((dec.getRGB(1, 1) & 0xffffff) === rgb,
        f"frame $idx must be its own color, got ${dec.getRGB(1, 1)}%06x")
    }
    intercept[IllegalArgumentException](Multimodal.ImageIODecoder.frame(gif, 3))
    // frameSample walks the decoder-reported count: every-2 over 3
    // frames yields indices 0 and 2
    val docs = spark.createDataFrame(Seq((7L, gif, "video/mp4")))
      .toDF("doc_id", "payload", "media_type")
    val sampled = Multimodal.frameSample(spark, docs, everyK = 2,
      Multimodal.ImageIODecoder).collect().map(_.frame_idx).sorted
    assert(sampled.toSeq === Seq(0, 2))
  }

  test("ImageIODecoder composites partial-rect GIF frames onto the logical screen") {
    import graft.multimodal.Multimodal
    // The JDK GIF writer emits full-frame animations only, so this
    // frame-optimized GIF is assembled byte-by-byte per the GIF89a
    // spec: frame 1 is a 2x1 green rect at offset (2,1); frame 2 a 1x1
    // blue rect at (0,0). Frame 1 carries disposal=restoreToBackground,
    // so its rect must be cleared before frame 2 draws. LZW payload
    // uses fixed-width codes (a clear code after every pixel keeps the
    // dictionary empty so the code width never grows).
    def le16(v: Int): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def lzw(pixels: Seq[Int], minCode: Int): Seq[Byte] = {
      val clear = 1 << minCode; val eoi = clear + 1; val width = minCode + 1
      val out = scala.collection.mutable.ArrayBuffer[Byte]()
      var acc = 0; var nbits = 0
      def emit(code: Int): Unit = {
        acc |= code << nbits; nbits += width
        while (nbits >= 8) { out += (acc & 0xff).toByte; acc >>>= 8; nbits -= 8 }
      }
      emit(clear); pixels.foreach { p => emit(p); emit(clear) }; emit(eoi)
      if (nbits > 0) out += (acc & 0xff).toByte
      out.toSeq
    }
    def subBlocks(data: Seq[Byte]): Seq[Byte] =
      data.grouped(255).flatMap(b => (b.length.toByte +: b)).toSeq :+ 0.toByte
    // disposal: 1=doNotDispose, 2=restoreToBackground (GCE packed bits 2-4)
    def gce(disposal: Int): Seq[Byte] =
      Seq(0x21, 0xF9, 0x04, disposal << 2, 0, 0, 0, 0x00).map(_.toByte)
    def imageDesc(left: Int, top: Int, w: Int, h: Int): Seq[Byte] =
      0x2C.toByte +: (le16(left) ++ le16(top) ++ le16(w) ++ le16(h) :+ 0.toByte)
    val header = "GIF89a".getBytes("US-ASCII").toSeq
    // 4x4 screen, global color table of 4: red, green, blue, white
    val lsd = le16(4) ++ le16(4) ++ Seq(0x91.toByte, 0.toByte, 0.toByte)
    val gct = Seq(255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte)
    val frame0 = gce(1) ++ imageDesc(0, 0, 4, 4) ++
      (2.toByte +: subBlocks(lzw(Seq.fill(16)(0), 2)))          // full red
    val frame1 = gce(2) ++ imageDesc(2, 1, 2, 1) ++
      (2.toByte +: subBlocks(lzw(Seq(1, 1), 2)))                // green rect
    val frame2 = gce(1) ++ imageDesc(0, 0, 1, 1) ++
      (2.toByte +: subBlocks(lzw(Seq(2), 2)))                   // blue pixel
    val gif = (header ++ lsd ++ gct ++ frame0 ++ frame1 ++ frame2 :+ 0x3B.toByte)
      .toArray
    assert(Multimodal.ImageIODecoder.dims(gif) === ((4, 4, 3)))
    def decode(idx: Int) = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.ImageIODecoder.frame(gif, idx)))
    // every composited frame has the LOGICAL SCREEN's dims, not the
    // stored rect's — the raw stored frame 1 is only 2x1
    val f1 = decode(1)
    assert((f1.getWidth, f1.getHeight) === ((4, 4)),
      "composited frame must have logical-screen dims")
    assert((f1.getRGB(2, 1) & 0xffffff) === 0x00ff00,
      "frame 1 must show the green rect at its (2,1) offset")
    assert((f1.getRGB(0, 0) & 0xffffff) === 0xff0000,
      "frame 1 must keep frame 0's red outside the rect (doNotDispose)")
    // frame 2: green rect cleared by restoreToBackground, blue drawn at
    // (0,0), red persists elsewhere
    val f2 = decode(2)
    assert((f2.getRGB(0, 0) & 0xffffff) === 0x0000ff)
    assert((f2.getRGB(2, 1) >>> 24) === 0,
      "restoreToBackground must clear the disposed rect to transparent")
    assert((f2.getRGB(3, 3) & 0xffffff) === 0xff0000,
      "pixels outside disposed rects persist")
    // header-only dims agree with the full-scan dims on width/height
    assert(Multimodal.ImageIODecoder.dimsOnly(gif) === ((4, 4)))
    // the batch path (one stream walk, snapshots at sampled indices)
    // must yield byte-identical frames to per-index composition
    val batch = Multimodal.ImageIODecoder.frames(gif, Seq(0, 1, 2))
    for ((b, i) <- batch.zipWithIndex)
      assert(b.toSeq === Multimodal.ImageIODecoder.frame(gif, i).toSeq,
        s"batch frame $i must equal the per-index composite")
    assert(Multimodal.ImageIODecoder.frames(gif, Seq.empty).isEmpty)
    intercept[IllegalArgumentException](
      Multimodal.ImageIODecoder.frames(gif, Seq(0, 3)))
  }

  test("adaptive quality drops each source's own bottom decile") {
    import graft.api.TextAnalysis
    // source A: 1 stopword-free doc (ppm 0) + 19 half-stopword docs
    // (ppm 500000); p10 rank over n=20 is 2, so the threshold is
    // 500000 and exactly the one bad doc drops. source B is all
    // stopwords (ppm 1000000): its own threshold keeps all 5.
    val docs = spark.createDataFrame(
      (Seq((0L, "x y", "A")) ++
        (1L to 19L).map(i => (i, "the x", "A")) ++
        (20L to 24L).map(i => (i, "the the the", "B")))
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.adaptiveQualityThresholds(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === Set(("A", 20L, 500000L, 19L), ("B", 5L, 1000000L, 5L)))
  }

  test("group centroids average each dimension exactly per label") {
    import graft.api.Similarity
    val vecs = spark.createDataFrame(Seq(
      (1L, Seq(1.0f, 2.0f), 7), (2L, Seq(3.0f, 6.0f), 7),
      (3L, Seq(10.0f, 0.0f), 8)
    )).toDF("vec_id", "embedding", "label")
    val got = Similarity.groupCentroids(vecs, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got === Set(
      (7, 0, 2L, 2.0), (7, 1, 2L, 4.0),   // means of (1,3) and (2,6)
      (8, 0, 1L, 10.0), (8, 1, 1L, 0.0)))
  }

  test("group centroid distances use the dimension-ordered centroid vectors") {
    import graft.api.Similarity
    val vecs = spark.createDataFrame(Seq(
      (1L, Seq(1.0f, 2.0f), 7), (2L, Seq(3.0f, 6.0f), 7),
      (3L, Seq(10.0f, 0.0f), 8)
    )).toDF("vec_id", "embedding", "label")
    val got = Similarity.groupCentroidDistances(vecs, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    // centroids: label 7 -> (2,4), label 8 -> (10,0);
    // cos = 20 / (sqrt(20) * 10) = 0.4472
    assert(got === Seq((7, 8, 0.4472)))
  }

  test("prefix boilerplate flags only documents sharing a k-token opening") {
    import graft.api.TextAnalysis
    val docs = spark.createDataFrame(Seq(
      (1L, "terms of use apply to this site"),
      (2L, "terms of use apply here"),
      (3L, "a unique opening with no template"),
      (4L, "terms of use apply again"),
      (5L, "terms of use differ after three") // shares only 3 tokens
    )).toDF("doc_id", "text")
    val got = TextAnalysis.prefixBoilerplate(docs, "doc_id", "text",
        k = 4, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val p = "terms of use apply"
    assert(got === Set((1L, p, 3L), (2L, p, 3L), (4L, p, 3L)),
      s"only the 3 docs sharing all 4 opening tokens flag, got $got")
  }

  test("WavCodec parses real RIFF/WAVE bytes: header, exact energy windows") {
    import graft.multimodal.Multimodal
    // genuine WAV bytes from the JDK's own encoder (javax.sound.sampled)
    def wavBytes(samples: Array[Short], rate: Float, channels: Int): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels,
        true, false) // signed PCM16, little-endian
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt,
        samples.length / channels)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    // mono: 6 known samples, window=4 -> windows of 4 and 2 samples
    val mono = wavBytes(Array[Short](100, -200, 300, -400, 500, -600), 8000f, 1)
    assert(Multimodal.WavCodec.header(mono) === ((8000, 1, 16, 6L)))
    val w = Multimodal.WavCodec.energyWindows(mono, 4)
    assert(w === Seq(
      (0, 100L * 100 + 200L * 200 + 300L * 300 + 400L * 400, 400, 4),
      (1, 500L * 500 + 600L * 600, 600, 2)))
    // stereo: channel 0 is read, channel 1 (big values) must be ignored
    val stereo = wavBytes(
      Array[Short](10, 30000, 20, 30000, 30, 30000), 16000f, 2)
    assert(Multimodal.WavCodec.header(stereo) === ((16000, 2, 16, 3L)))
    assert(Multimodal.WavCodec.energyWindows(stereo, 8) ===
      Seq((0, 10L * 10 + 20L * 20 + 30L * 30, 30, 3)))
    // the Spark operators: audioMeta (header-only) + audioEnergy
    // (row-expanding) over a frame with REAL audio payloads; the
    // image/png row must be filtered out, not parsed as WAV
    val docs = spark.createDataFrame(Seq(
      (1L, mono, "audio/wav"), (2L, stereo, "audio/wav"),
      (3L, Array[Byte](1, 2, 3), "image/png")
    )).toDF("doc_id", "payload", "media_type")
    val meta = Multimodal.audioMeta(spark, docs).collect()
      .map(m => m.doc_id -> ((m.sample_rate, m.channels, m.n_frames,
        m.duration_ms))).toMap
    assert(meta === Map(
      1L -> ((8000, 1, 6L, 0L)),   // 6 frames / 8 kHz -> 0 ms (exact int)
      2L -> ((16000, 2, 3L, 0L))))
    val energy = Multimodal.audioEnergy(spark, docs, windowFrames = 4)
      .collect().map(e => (e.doc_id, e.win_idx, e.sum_sq, e.peak, e.n_samples))
      .toSet
    assert(energy === Set(
      (1L, 0, 300000L, 400, 4), (1L, 1, 610000L, 600, 2),
      (2L, 0, 1400L, 30, 3)))
    // non-WAV bytes fail loudly, not as garbage metadata
    intercept[IllegalArgumentException](
      Multimodal.WavCodec.header(Array[Byte](1, 2, 3, 4)))
    // corrupt containers fail with the parser's contract exception, not
    // a raw bounds error / infinite loop: (a) channels=0 in fmt,
    // (b) fmt chunk header present but body truncated, (c) huge declared
    // chunk size that would wrap Int arithmetic
    def patched(src: Array[Byte])(f: Array[Byte] => Unit): Array[Byte] = {
      val b = src.clone(); f(b); b
    }
    val chZero = patched(mono)(b => { b(22) = 0; b(23) = 0 })
    intercept[IllegalArgumentException](Multimodal.WavCodec.header(chZero))
    intercept[IllegalArgumentException](
      Multimodal.WavCodec.energyWindows(chZero, 4))
    val truncated = mono.take(20) // RIFF/WAVE + "fmt " header, body cut
    intercept[IllegalArgumentException](Multimodal.WavCodec.header(truncated))
    val hugeSz = patched(mono) { b =>
      b(16) = 0xf0.toByte; b(17) = 0xff.toByte // fmt size -> ~0x7ffffff0
      b(18) = 0xff.toByte; b(19) = 0x7f.toByte
    }
    intercept[IllegalArgumentException](Multimodal.WavCodec.header(hugeSz))
    // a data chunk whose declared size exceeds the actual bytes clamps:
    // header n_frames must agree with what energyWindows actually reads
    val lying = patched(mono) { b =>
      // data size field sits 8 bytes before the PCM (offset 40 in the
      // canonical 44-byte header the JDK writer emits)
      b(40) = 0xff.toByte; b(41) = 0xff.toByte; b(42) = 0; b(43) = 0
    }
    val (_, _, _, nClamped) = Multimodal.WavCodec.header(lying)
    assert(nClamped === 6L, "declared-size lie must clamp to real bytes")
    assert(Multimodal.WavCodec.energyWindows(lying, 4).map(_._4).sum === 6)
    // padded block alignment: a legal WAV may declare blockAlign LARGER
    // than channels*bits/8 (pad bytes per frame). The sample walk must
    // stride by the container's declared blockAlign — striding by a
    // recomputed 2*channels would decode the 0x7777 pad bytes as
    // samples AND disagree with header's frame count.
    def rawWav(data: Array[Byte], rate: Int, ch: Int, bits: Int,
               blockAlign: Int): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(ch.toShort).putInt(rate)
        .putInt(rate * blockAlign).putShort(blockAlign.toShort)
        .putShort(bits.toShort)
        .put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
      out.array()
    }
    val paddedPcm = Array[Byte](
      10, 0, 0x77, 0x77, // frame 0: sample 10 + 2 pad bytes
      20, 0, 0x77, 0x77, // frame 1: sample 20
      30, 0, 0x77, 0x77) // frame 2: sample 30
    val padded = rawWav(paddedPcm, 8000, 1, 16, blockAlign = 4)
    assert(Multimodal.WavCodec.header(padded) === ((8000, 1, 16, 3L)))
    assert(Multimodal.WavCodec.energyWindows(padded, 2) === Seq(
      (0, 100L + 400L, 20, 2), (1, 900L, 30, 1)))
    // blockAlign smaller than the frame size is a contract violation,
    // not a silent mis-stride
    val tooSmall = rawWav(paddedPcm, 8000, 1, 16, blockAlign = 1)
    intercept[IllegalArgumentException](
      Multimodal.WavCodec.energyWindows(tooSmall, 2))
  }

  test("Mp4Codec header-only box walk: real containers + corrupt guards") {
    import graft.multimodal.Multimodal
    val mp4 = Multimodal.buildMp4(640, 360, 240L, 600L, 6000L)
    assert(Multimodal.Mp4Codec.videoMeta(mp4) ===
      ((640, 360, 240L, 600L, 6000L)))
    // an audio trak (0x0 dims, its own mdhd/stsz) BEFORE the video trak
    // must not supply any field
    val multi = Multimodal.buildMp4(320, 240, 48L, 600L, 1200L,
      audioTrakFirst = true)
    assert(Multimodal.Mp4Codec.videoMeta(multi) ===
      ((320, 240, 48L, 600L, 1200L)))
    // a size==0 trailing box (extends to EOF) parses cleanly
    val trailing = mp4 ++ Array[Byte](0, 0, 0, 0) ++
      "free".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3)
    assert(Multimodal.Mp4Codec.videoMeta(trailing) ===
      ((640, 360, 240L, 600L, 6000L)))
    // a 64-bit largesize box before the content is walked correctly
    val pre = java.nio.ByteBuffer.allocate(16)
      .putInt(1).put("free".getBytes("US-ASCII")).putLong(16L).array()
    assert(Multimodal.Mp4Codec.videoMeta(pre ++ mp4) ===
      ((640, 360, 240L, 600L, 6000L)))
    // truncated mid-moov: contract exception, not a bounds error
    intercept[IllegalArgumentException](
      Multimodal.Mp4Codec.videoMeta(mp4.take(60)))
    // a lying huge 32-bit size must end the walk cleanly (clamped),
    // leaving moov unreached -> missing-metadata contract error
    val lying = mp4.clone()
    lying(0) = 0x7f.toByte; lying(1) = 0xff.toByte
    lying(2) = 0xff.toByte; lying(3) = 0xff.toByte
    intercept[IllegalArgumentException](Multimodal.Mp4Codec.videoMeta(lying))
    // not a box stream at all
    intercept[IllegalArgumentException](
      Multimodal.Mp4Codec.videoMeta(Array[Byte](1, 2, 3)))
    // a bare 8-byte tkhd header (empty body) at EOF passes the loop's
    // off+8 admission — the version-byte read must raise the CONTRACT
    // exception, not ArrayIndexOutOfBounds
    val bare = java.nio.ByteBuffer.allocate(24)
      .putInt(24).put("moov".getBytes("US-ASCII"))
      .putInt(16).put("trak".getBytes("US-ASCII"))
      .putInt(8).put("tkhd".getBytes("US-ASCII")).array()
    intercept[IllegalArgumentException](Multimodal.Mp4Codec.videoMeta(bare))
  }

  test("Mp4Codec stsd codec walk skips the audio trak's mp4a entry") {
    import graft.multimodal.Multimodal
    // video codec read through a leading audio trak carrying "mp4a"
    val m = Multimodal.buildMp4(320, 240, 48L, 600L, 1200L,
      audioTrakFirst = true, codec = "hev1")
    assert(Multimodal.Mp4Codec.videoMetaCodec(m) ===
      ((320, 240, 48L, 600L, 1200L, "hev1")))
    // codec-less container: videoMeta tolerates, videoMetaCodec raises
    val plain = Multimodal.buildMp4(640, 360, 240L, 600L, 6000L)
    assert(Multimodal.Mp4Codec.videoMeta(plain) ===
      ((640, 360, 240L, 600L, 6000L)))
    intercept[IllegalArgumentException](
      Multimodal.Mp4Codec.videoMetaCodec(plain))
    // a truncated stsd (entry_count present, entry bytes outside the
    // box's declared extent) raises the stsd contract exception, not a
    // bounds error: shrink the stsd box's size field in place
    val full = Multimodal.buildMp4(320, 240, 48L, 600L, 1200L,
      codec = "avc1")
    val idx = full.indexOfSlice("stsd".getBytes("US-ASCII")) - 4
    assert(idx >= 0)
    val trunc = full.clone()
    trunc(idx) = 0; trunc(idx + 1) = 0; trunc(idx + 2) = 0
    trunc(idx + 3) = 16 // header + version/flags + entry_count only
    val ex = intercept[IllegalArgumentException](
      Multimodal.Mp4Codec.videoMetaCodec(trunc))
    assert(ex.getMessage.contains("truncated stsd"), ex.getMessage)
  }

  test("withPayload rejects a half-shaped media frame instead of clobbering it") {
    import graft.multimodal.Multimodal
    // payload present but the type column is named differently: the old
    // fallback would silently overwrite real bytes with text bytes
    val half = spark.createDataFrame(Seq((1L, Array[Byte](1, 2, 3), "txt")))
      .toDF("doc_id", "payload", "text")
    val e = intercept[IllegalArgumentException](Multimodal.withPayload(half))
    assert(e.getMessage.contains("media_type"))
    val other = spark.createDataFrame(Seq((1L, "image/png", "txt")))
      .toDF("doc_id", "media_type", "text")
    intercept[IllegalArgumentException](Multimodal.withPayload(other))
  }

  test("repetition metrics: planted duplicate words and n-grams") {
    val docs = spark.createDataFrame(Seq(
      (1L, "a a a b"),          // dup 2/4; top2 "a a" x2; top3 x1
      (2L, "x y z w"),          // no repetition
      (3L, "go go go go go go") // fully degenerate
    )).toDF("doc_id", "text")
    val m = graft.api.TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(m(1L) === ((4L, 500000L, 1000000L, 750000L)), m(1L))
    assert(m(2L) === ((4L, 0L, 500000L, 750000L)), m(2L)) // every gram unique: max c=1
    assert(m(3L) === ((6L, 833333L, 1666666L, 2000000L)), m(3L))
  }

  test("shared-segment coverage flags only cross-document k-grams") {
    val docs = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over"),  // shares "the quick brown" w/ 2
      (2L, "the quick brown cat sits here"),
      (3L, "entirely unrelated words in this doc")
    )).toDF("doc_id", "text")
    val c = graft.api.Dedup.sharedSegmentCoverage(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // docs 1+2 share exactly the "the quick brown" 3-gram (1 of 4
    // positions each -> 250000 ppm); doc 3 shares nothing -> NO row
    assert(c === Map(1L -> ((4L, 1L)), 2L -> ((4L, 1L))), c)
    val ppm = graft.api.Dedup.sharedSegmentCoverage(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ppm === Map(1L -> 250000L, 2L -> 250000L), ppm)
  }

  test("span removal cuts a planted template from all but the first doc") {
    // a 200-token block shared verbatim by docs 1 and 2, with distinct
    // prefix/suffix context; doc 3 is unrelated. The min-doc-id
    // occurrence keeps the block; the other loses EXACTLY that block.
    val block = (1 to 200).map(i => s"t$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, s"alpha beta $block gamma delta"),
      (2L, s"one two three $block four five six"),
      (3L, "entirely unrelated words in this doc here today")
    )).toDF("doc_id", "text")
    val out = graft.api.Dedup
      .removeSharedSegments(docs, "doc_id", "text", k = 8, minLen = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out(1L) === ((s"alpha beta $block gamma delta", 0L)), out(1L))
    assert(out(2L) === (("one two three four five six", 200L)), out(2L))
    assert(out(3L)._2 === 0L)
    // doc shorter than k passes through untouched
    val tiny = spark.createDataFrame(Seq((9L, "too short")))
      .toDF("doc_id", "text")
    val t9 = graft.api.Dedup
      .removeSharedSegments(tiny, "doc_id", "text", k = 8, minLen = 3)
      .collect().head
    assert(t9.getString(1) === "too short" && t9.getLong(2) === 0L)
    // two occurrences in the SAME doc still keep the first (min start)
    val selfDup = spark.createDataFrame(Seq(
      (1L, s"$block middle words here $block"),
      (2L, s"start $block end")
    )).toDF("doc_id", "text")
    val sd = graft.api.Dedup
      .removeSharedSegments(selfDup, "doc_id", "text", k = 8, minLen = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // doc 1: first occurrence kept, second cut; doc 2's occurrence cut
    assert(sd === Map(1L -> 200L, 2L -> 200L), sd)
  }

  test("shuffle order is a seed-reproducible permutation") {
    val df = spark.range(0, 500).toDF("seq_id")
    def posMap(seed: Long, part: Int) = Packing
      .shuffleOrder(df.repartition(part), "seq_id", seed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = posMap(7L, 4)
    // a true permutation: positions are exactly 0..n-1
    assert(a.values.toSeq.sorted === (0L until 500L))
    // reproducible under the same seed, invariant to partitioning
    assert(a === posMap(7L, 13))
    // a different seed is a different epoch order (not identity-stable)
    val b = posMap(8L, 4)
    assert(a !== b)
    // and not the input order: the permutation actually shuffles
    assert(a.count { case (id, p) => id == p } < 50)
  }

  test("gopher quality flags reject on exactly the violated rule") {
    val docs = spark.createDataFrame(Seq(
      (1L, "the cat and dog sat on the mat today fine"), // all rules pass
      (2L, "tiny doc"),                                  // too few words
      (3L, "cat dog sat mat rug fox hen cow pig bat"),   // no stopwords
      (4L, "111 222 333 444 555 the a"),                 // non-alpha words
      (5L, "extraordinarily incomprehensible characteristically the a magnificently")
    )).toDF("doc_id", "text")                            // mean wlen > 10
    val out = TextAnalysis.gopherQualityFlags(docs, "doc_id", "text",
      minWords = 5, maxWords = 100, minMeanWlenPpm = 3000000L,
      maxMeanWlenPpm = 10000000L, minAlphaPpm = 800000L, minStopHits = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
          r.getBoolean(8), r.getBoolean(9)))).toMap
    // (f_nwords, f_wlen, f_alpha, f_stop, keep)
    assert(out(1L) === ((true, true, true, true, true)), out(1L))
    assert(out(2L) === ((false, true, true, false, false)), out(2L))
    assert(out(3L) === ((true, true, true, false, false)), out(3L))
    assert(out(4L) === ((true, false, false, true, false)), out(4L))
    assert(out(5L) === ((true, false, true, true, false)), out(5L))
  }

  test("paragraph dedup drops repeated segments, keeps min occurrence") {
    // segTokens=3: doc 1 = [A][u1], doc 2 = [x][A][u2], doc 3 repeats A
    // twice internally. Keeper of A = (doc 1, seg 0); every other
    // occurrence is cut; unique segments always survive.
    val A = "dup dup dup"
    val docs = spark.createDataFrame(Seq(
      (1L, s"$A only one here"),
      (2L, s"pre pre pre $A post post post"),
      (3L, s"$A $A tail tail tail")
    )).toDF("doc_id", "text")
    val out = graft.api.Dedup
      .dropDuplicateParagraphs(docs, "doc_id", "text", segTokens = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === ((s"$A only one here", 2L, 0L)), out(1L))
    assert(out(2L) === (("pre pre pre post post post", 3L, 1L)), out(2L))
    assert(out(3L) === (("tail tail tail", 3L, 2L)), out(3L))
    // a doc whose every segment duplicates earlier content empties out
    // rather than disappearing — docs shortened, never dropped
    val all = spark.createDataFrame(Seq((1L, A), (2L, A)))
      .toDF("doc_id", "text")
    val e = graft.api.Dedup
      .dropDuplicateParagraphs(all, "doc_id", "text", segTokens = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(e === Map(1L -> A, 2L -> ""), e)
  }

  test("upsample repeats floor(rate) times plus the hashed fraction") {
    import graft.api.Mixing
    val df = spark.range(0, 1000).toDF("doc_id")
      .withColumn("source",
        when(col("doc_id") < 500, "a").otherwise("b"))
    val out = Mixing.upsample(df, "doc_id", "source",
      Map("a" -> 3.0, "b" -> 0.5)).cache()
    // integral rate: every 'a' doc exactly 3 times, rep = 0,1,2
    val a = out.filter(col("source") === "a")
    assert(a.count() === 1500)
    assert(a.groupBy("doc_id").count().filter(col("count") =!= 3)
      .count() === 0)
    // fractional-only rate: 'b' docs kept 0-or-1 times, ~half kept
    val b = out.filter(col("source") === "b")
    assert(b.groupBy("doc_id").count().filter(col("count") =!= 1)
      .count() === 0)
    val kept = b.count()
    assert(kept > 175 && kept < 325, s"expected ~250 of 500 b-docs, got $kept")
    // deterministic: a second run is identical
    val again = Mixing.upsample(df, "doc_id", "source",
      Map("a" -> 3.0, "b" -> 0.5))
    assert(out.exceptAll(again).count() === 0 &&
      again.exceptAll(out).count() === 0)
    out.unpersist()
  }

  test("Graft.clear resets the shared pipeline caches rebuildably") {
    // the review-found bug class: a cleared cache must REBUILD (fresh
    // persist) on next use, never hand out a stale unpersisted frame
    val packed = graft.ops.Pipeline.packedStream(spark, sfDir).count()
    val cut = graft.ops.Pipeline.spanCut(spark, sfDir)
      .agg(sum("n_removed")).collect()(0).getLong(0)
    Graft.clear(spark)
    assert(graft.ops.Pipeline.packedStream(spark, sfDir).count() === packed)
    assert(graft.ops.Pipeline.spanCut(spark, sfDir)
      .agg(sum("n_removed")).collect()(0).getLong(0) === cut)
  }

  test("cross-process literal cache: exact disk round-trip + source-change invalidation") {
    import java.nio.file.Files
    // a private corpus copy, so mtime bumps never touch shared testdata
    val dir = SparkTestSession.tempDir("litcache")
    for (t <- Seq("embeddings", "documents"))
      Files.copy(java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
        dir.resolve(s"$t.parquet"))
    val d = dir.toString
    val a = graft.ops.Pipeline.kmeansCents(spark, d)
    Graft.clear(spark)
    // in-process cache cleared: the values now come from the scratch
    // TSV — exact Double equality proves the shortest-round-trip
    // serialization serves the SAME literals a cold process would use
    val b = graft.ops.Pipeline.kmeansCents(spark, d)
    assert(a === b, "disk round-trip must reproduce exact doubles")
    assert(graft.api.BuildCache.outcome("kmcents", d) === ((1, 1)),
      "the second process-equivalent call is served from disk")
    // a source mtime bump invalidates: recompute into a new entry, same ids
    val f = dir.resolve("embeddings.parquet").toFile
    assert(f.setLastModified(f.lastModified() + 2000))
    Graft.clear(spark)
    val c = graft.ops.Pipeline.kmeansCents(spark, d)
    assert(c.map(_._1) === a.map(_._1))
    assert(graft.api.BuildCache.outcome("kmcents", d) === ((1, 2)),
      "a changed source must rebuild")
  }

  test("shuffleOrder validateUnique rejects duplicate ids eagerly") {
    val dup = spark.range(10).select((col("id") % 5).as("doc_id"))
    val e = intercept[IllegalArgumentException](
      Packing.shuffleOrder(dup, "doc_id", seed = 7, validateUnique = true))
    assert(e.getMessage.contains("unique"))
    // unique ids pass the same validation and yield a full permutation
    val ok = Packing.shuffleOrder(
      spark.range(10).select(col("id").as("doc_id")), "doc_id", seed = 7,
      validateUnique = true)
    assert(ok.select("shuffle_pos").distinct().count() === 10)
  }

  test("removeDuplicatedExtents matches brute-force duplicated-substring coverage") {
    // The operator claims EXACT Lee-et-al delete-all semantics via the
    // gram-coverage equivalence. Validate against an INDEPENDENT brute
    // force that enumerates every duplicated substring of length >= k
    // (all lengths, all positions, occurrence-counted) and takes the
    // coverage union — if the equivalence argument were wrong, these
    // would differ on the planted mosaic/overlap cases below.
    val k = 4
    def w(s: String) = s.split(" ")
    val corpus = Seq(
      // cross-doc duplicate run (9 tokens) at different offsets
      1L -> "u1 u2 r1 r2 r3 r4 r5 r6 r7 r8 r9 u3 u4",
      2L -> "v1 r1 r2 r3 r4 r5 r6 r7 r8 r9 v2 v3 v4",
      // partial overlap: only the first 5 tokens of the run
      3L -> "x1 x2 x3 r1 r2 r3 r4 r5 x4 x5 x6 x7",
      // within-doc repeat (self-dedup)
      4L -> "m1 m2 m3 m4 n1 n2 n3 m1 m2 m3 m4 n4",
      // mosaic: d1's prefix + d2's tail pieces, combination unique
      5L -> "u1 u2 r1 r2 q9 r6 r7 r8 r9 v2 q8 q7",
      // fully unique
      6L -> "z1 z2 z3 z4 z5 z6 z7 z8 z9 z0 za zb")
    // brute force: every (doc, start, len>=k) substring occurring >= 2
    // times corpus-wide (counting all occurrences incl. overlaps) marks
    // its token range covered
    val toks = corpus.map { case (id, s) => id -> w(s) }
    def occurrences(sub: Seq[String]): Int = toks.map { case (_, a) =>
      a.indices.count(p => p + sub.length <= a.length &&
        a.slice(p, p + sub.length).sameElements(sub))
    }.sum
    val expected = toks.map { case (id, a) =>
      val covered = Array.fill(a.length)(false)
      for (s <- a.indices; len <- k to (a.length - s)) {
        val sub = a.slice(s, s + len).toSeq
        if (occurrences(sub) >= 2) (s until s + len).foreach(covered(_) = true)
      }
      id -> covered.count(identity)
    }.toMap
    val df = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedExtents(df, "doc_id", "text", k = k)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === expected,
      s"operator coverage must equal brute-force duplicated-substring coverage")
    // sanity on the planted shapes: both cross-doc occurrences cut
    // (delete-all, no keeper), the within-doc repeat cut twice, the
    // unique doc untouched
    assert(got(1L) >= 9 && got(2L) >= 9, "both occurrences must be cut")
    assert(got(4L) >= 8, "within-doc repeats are duplicated too")
    assert(got(6L) === 0L, "unique text must be untouched")
  }

  test("a same-size mid-file rewrite with the mtime restored is rebuilt, not served stale") {
    import java.nio.file.Files
    // ~203 KiB of plain-encoded, uncompressed longs (no dictionary, no
    // page checksum): one value's bytes sit mid-file, and changing it to
    // another non-extreme value leaves the size, every page and chunk
    // statistic and so the whole footer untouched
    val dir = SparkTestSession.tempDir("stalemid")
    val tmp = dir.resolve("w").toString
    spark.range(26000).select((col("id") * 2).as("v")).coalesce(1).write
      .option("compression", "none")
      .option("parquet.enable.dictionary", "false")
      .option("parquet.page.write-checksum.enabled", "false")
      .parquet(tmp)
    val src = dir.resolve("src.parquet")
    Files.copy(new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath, src)
    def le(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    val bytes = Files.readAllBytes(src)
    val len = bytes.length
    val hits = (0 to len - 8).filter(i => bytes.slice(i, i + 8).sameElements(le(26000L)))
    assert(hits.size === 1, s"one plain-encoded occurrence of the value: $hits")
    val off = hits.head
    assert(len > 200 * 1024 && off > 65536 && off < len - 65536,
      s"the value must sit outside both 64 KiB edges ($off of $len)")
    val d = dir.toString
    def total(): Long = {
      val tbl = api.Bucketing.ensureBucketed(spark, d, "stalemid",
        spark.read.parquet(src.toString), "v", srcPaths = Seq(src.toString))
      spark.table(tbl).agg(sum("v")).head().getLong(0)
    }
    val before = total()
    Graft.clear(spark)
    // same path, size, ms mtime and edges; only the middle changed
    val mtime = src.toFile.lastModified()
    val raf = new java.io.RandomAccessFile(src.toFile, "rw")
    try { raf.seek(off); raf.write(le(26001L)) } finally raf.close()
    assert(src.toFile.setLastModified(mtime))
    assert(Files.size(src) === len.toLong)
    assert(total() === before + 1, "a stale bucketed table was served")
    Graft.clear(spark)
  }

  test("splitLeakage counts cross-split pairs; group-aware split zeroes them") {
    import graft.api.Mixing
    val ids = spark.range(200).select(col("id").as("doc_id"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val assigned = Mixing.assignSplit(ids, "doc_id", splits)
    // construct pairs with KNOWN crossing structure from the assignment
    val byS = assigned.collect().map(r => r.getLong(0) -> r.getString(1))
    val train = byS.filter(_._2 == "train").map(_._1)
    val test = byS.filter(_._2 == "test").map(_._1)
    assert(train.size >= 2 && test.nonEmpty, "split coverage at n=200")
    import spark.implicits._
    val pairs = Seq(
      (train(0), test(0)),  // crossing
      (train(0), train(1))  // same-split
    ).toDF("doc_a", "doc_b")
    val leaked = Mixing.splitLeakage(pairs, assigned, "doc_id").collect()
    assert(leaked.length === 1)
    assert(leaked(0).getString(0) === "test" && leaked(0).getString(1) === "train")
    assert(leaked(0).getLong(2) === 1L)
    // group-aware split keyed by the pair's cluster id: both members of
    // every pair share the group, so leakage is ZERO by construction —
    // the guarantee the audit exists to check
    val clustered = ids.withColumn("grp",
      when(col("doc_id").isin(train(0), test(0), train(1)), lit("c1"))
        .otherwise(col("doc_id").cast("string")))
    val grouped = Mixing.groupAwareSplit(clustered, "grp", splits)
      .select(col("doc_id"), col("split"))
    assert(Mixing.splitLeakage(pairs, grouped, "doc_id").count() === 0L)
    // a pair member MISSING from the assignment must SURFACE as the
    // "unassigned" bucket, never silently drop the pair (the audit's
    // false-negative mode): here the filtered assignment lacks test(0)
    val partial = assigned.filter(col("doc_id") =!= test(0))
    val un = Mixing.splitLeakage(pairs, partial, "doc_id").collect()
    assert(un.exists(r => r.getString(1) === "unassigned" && r.getLong(2) === 1L),
      s"missing assignment must surface, got ${un.mkString(";")}")
  }

  test("paragraph dedup is idempotent: a second pass removes nothing") {
    // after keep-first, every surviving segment is globally unique, and
    // because every kept segment except a doc's last is exactly
    // segTokens wide, re-segmenting the stitched text reproduces the
    // kept segments verbatim — so a second pass must remove 0 segments
    // (the only exception: docs emptied to "" collide on the ""
    // segment, which the filter below excludes)
    val once = graft.api.Dedup.dropDuplicateParagraphs(
      docs, "doc_id", "text", segTokens = 15)
    val again = graft.api.Dedup.dropDuplicateParagraphs(
      once.filter(col("text_clean") =!= "")
        .select(col("doc_id"), col("text_clean").as("text")),
      "doc_id", "text", segTokens = 15)
    val extra = again.filter(col("n_removed") > 0).count()
    assert(extra === 0, s"second pass removed segments from $extra docs")
  }

  test("incremental paragraph dedup defers to the corpus index") {
    val A = "dup dup dup"
    val B = "bis bis bis"
    // corpus holds A under a LARGE doc id; increment doc 1 (smaller id)
    // must still lose A — corpus priority, unlike the batch keeper rule
    val corpus = spark.createDataFrame(Seq((900L, s"$A core core core")))
      .toDF("doc_id", "text")
    val incr = spark.createDataFrame(Seq(
      (1L, s"$A new new new"),
      (2L, s"$B $B tail tail tail"),
      (3L, B)
    )).toDF("doc_id", "text")
    val out = graft.api.Dedup
      .incrementalParagraphDedup(corpus, incr, "doc_id", "text",
        segTokens = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    // increment-only output; corpus doc never appears
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === (("new new new", 1L)), out(1L))
    // within-increment repeats keep the min (doc_id, seg_idx) occurrence
    assert(out(2L) === ((s"$B tail tail tail", 1L)), out(2L))
    assert(out(3L) === (("", 1L)), out(3L))
  }

  test("token-stream packing: global order, doc spanning, exact digest") {
    // empty merges => every token is one byte with id = its code point,
    // so the digest arithmetic is fully hand-checkable
    val docs = spark.createDataFrame(Seq((1L, "ab c"), (2L, "de f")))
      .toDF("doc_id", "text")
    val out = graft.api.Packing
      .packTokenStream(docs, "doc_id", "text", Seq.empty, seqLen = 4)
      .orderBy("seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // stream = 97,98,99 (doc 1) ++ 100,101,102 (doc 2)
    // seq 0 = [97,98,99,100] spans both docs; checksum = 1*97+2*98+3*99+4*100
    // seq 1 = [101,102];                     checksum = 1*101+2*102
    assert(out === Array(
      (0L, 4L, 2L, 97L, 100L, 990L),
      (1L, 2L, 1L, 101L, 102L, 305L)), out.toSeq)
  }

  test("group-aware split is group-atomic and row-count independent") {
    val docs = spark.createDataFrame(
      (1 to 60).map(i => (i.toLong, s"dom${i % 7}"))
    ).toDF("doc_id", "domain")
    val sp = graft.api.Mixing.groupAwareSplit(docs, "domain",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("domain", "split").collect()
      .map(r => r.getString(0) -> r.getString(1))
    // atomic: one split per group, regardless of member count
    assert(sp.groupBy(_._1).forall(_._2.map(_._2).distinct.length == 1), sp)
    // a group's split is independent of the rest of the corpus: the
    // same domains through a disjoint corpus land identically
    val docs2 = spark.createDataFrame(
      (500 to 520).map(i => (i.toLong, s"dom${i % 7}"))
    ).toDF("doc_id", "domain")
    val sp2 = graft.api.Mixing.groupAwareSplit(docs2, "domain",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("domain", "split").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val sp1 = sp.toMap
    assert(sp2.keySet.forall(d => sp1(d) == sp2(d)), (sp1, sp2))
  }

  test("prefix trim strips the template from every member, sub-k docs exempt") {
    val docs = spark.createDataFrame(Seq(
      (1L, "follow us on social alpha beta"),
      (2L, "follow us on social gamma"),
      (3L, "entirely different opening words here"),
      (4L, "follow us on"), // sub-k: matches no template, never trimmed
      (5L, "follow us on social") // exactly k: trimmed to empty
    )).toDF("doc_id", "text")
    val out = graft.api.TextAnalysis
      .trimBoilerplatePrefix(docs, "doc_id", "text", k = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out(1L) === (("alpha beta", 4L)), out)
    assert(out(2L) === (("gamma", 4L)), out)
    assert(out(3L) === (("entirely different opening words here", 0L)))
    assert(out(4L) === (("follow us on", 0L)), out)
    assert(out(5L) === (("", 4L)), out)
  }

  test("span removal variants bracket the suffix-array semantics") {
    // X duplicated in all three docs, but docs 1 and 3 ALSO share their
    // prefix and a trailing Y — their maximal shared runs extend past X
    // while doc 2's run is X alone. Whole-run matching sees different
    // extents (different fingerprints) and cuts doc 2's X from NOWHERE;
    // per-gram keepers cut it exactly.
    val x = (1 to 20).map(i => s"x$i").mkString(" ")
    val y = (1 to 20).map(i => s"y$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, s"a1 a2 $x $y b1 b2"),
      (2L, s"d1 d2 $x e1 e2"),
      (3L, s"a1 a2 $x $y c1 c2")
    )).toDF("doc_id", "text")
    val conservative = graft.api.Dedup
      .removeSharedSegments(docs, "doc_id", "text", k = 8, minLen = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val aggressive = graft.api.Dedup
      .removeSharedSegmentsByGram(docs, "doc_id", "text", k = 8, minLen = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    // conservative: doc 3 loses its whole-run match with doc 1; doc 2's
    // differing-extent X survives (the documented under-removal)
    assert(conservative(2L) === 0L, conservative)
    assert(conservative(3L) === 42L, conservative)
    // aggressive: doc 1 holds every keeper; doc 2 loses exactly X
    // (20 tokens); doc 3 loses the whole 42-token shared region
    assert(aggressive(1L)._2 === 0L, aggressive)
    assert(aggressive(2L) === (("d1 d2 e1 e2", 20L)), aggressive)
    assert(aggressive(3L)._2 === 42L, aggressive)
    // the keeper-holding doc is untouched under both variants here (no
    // cut run abuts doc 1's keeper grams; in general the gram variant's
    // k-1 run expansion CAN clip boundary keeper grams — see docstring)
    assert(conservative(1L) === 0L)
  }

  test("BPE: greedy merge order, merge-all rounds, deterministic trainer") {
    import graft.api.Bpe
    val ranks = Bpe.ranksOf(Seq(("l", "l"), ("h", "e"), ("he", "ll"),
      ("hell", "o"), ("a", "a")))
    assert(Bpe.encode("hello", ranks) === List("hello"))
    assert(Bpe.encode("hell", ranks) === List("hell"))
    // merge-all per round is left-to-right NON-overlapping
    assert(Bpe.encode("aaa", ranks) === List("aa", "a"))
    assert(Bpe.encode("aaaa", ranks) === List("aa", "aa"))
    assert(Bpe.encode("x", ranks) === List("x"))
    assert(Bpe.encode("", ranks) === Nil)
    // rank order decides which merge fires first: (b,c) outranks (a,b),
    // and the resulting "bc" then feeds (a,bc)
    val r2 = Bpe.ranksOf(Seq(("b", "c"), ("a", "bc"), ("a", "b")))
    assert(Bpe.encode("abc", r2) === List("abc"))
    // trainer: max corpus count wins, ties break lexicographically —
    // (e,s) and (s,t) both count 9 here, (e,s) sorts first
    val merges = Bpe.train(Seq(("low", 5L), ("lower", 2L),
      ("newest", 6L), ("widest", 3L)), 4)
    assert(merges.head === (("e", "s")), merges)
    val rt = Bpe.ranksOf(merges)
    Seq("low", "lower", "newest", "widest", "lowest").foreach { w =>
      assert(Bpe.encode(w, rt).mkString === w)
    }
    // the Spark operator: counts are per-word encode sums; vocab-side
    // encode + unhinted join must reproduce a direct per-doc compute
    val docs = spark.createDataFrame(Seq(
      (1L, "newest widest"), (2L, "low low lower"), (3L, "zq")
    )).toDF("doc_id", "text")
    val out = graft.api.TextAnalysis
      .bpeTokenCounts(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val expect = Map(
      1L -> ((2L, Seq("newest", "widest")
        .map(w => Bpe.countTokens(w, rt).toLong).sum)),
      2L -> ((3L, Seq("low", "low", "lower")
        .map(w => Bpe.countTokens(w, rt).toLong).sum)),
      3L -> ((1L, Bpe.countTokens("zq", rt).toLong)))
    assert(out === expect, out)
    // encode-to-ids: byte tokens carry their code point, merged tokens
    // 256 + first-appearance rank; the id stream follows word order
    val encDocs = spark.createDataFrame(Seq((7L, "newest zq")))
      .toDF("doc_id", "text")
    val enc = graft.api.TextAnalysis
      .bpeEncode(encDocs, "doc_id", "text", merges)
      .orderBy("word_idx", "tok_idx")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val vocab = merges.map { case (a, b) => a + b }.distinct
    val expIds = Bpe.encode("newest", rt).map { t =>
      if (t.length == 1) t.charAt(0).toLong else 256L + vocab.indexOf(t)
    }
    assert(enc.takeWhile(_._1 == 0L).map(_._3).toSeq === expIds, enc.toSeq)
    // "zq": no merge touches it -> two byte tokens with their codes
    assert(enc.dropWhile(_._1 == 0L).map(_._3).toSeq ===
      Seq('z'.toLong, 'q'.toLong), enc.toSeq)
  }

  test("IVF-PQ: L2 code assignment ties to lowest code, full-coverage " +
    "rerank recovers the exact top-k") {
    import graft.api.Similarity
    graft.functions.VectorFunctions.register(spark)
    // strict-min with lowest-id tie: entries 0 and 1 are equidistant
    assert(spark.sql(
      """SELECT nearest_centroid_l2(array(1.0D, 0.0D),
           array(struct(0L, array(1.0D, 0.0D)),
                 struct(1L, array(1.0D, 0.0D)),
                 struct(2L, array(0.0D, 9.0D))))""").head().getLong(0) === 0L)
    assert(spark.sql(
      """SELECT nearest_centroid_l2(array(0.0D, 8.0D),
           array(struct(0L, array(1.0D, 0.0D)),
                 struct(2L, array(0.0D, 9.0D))))""").head().getLong(0) === 2L)
    // deterministic synthetic vectors; coarse cells = first 4 ids
    val vecs = spark.range(60).selectExpr("id AS vec_id",
      """transform(sequence(0, 15), d ->
           CAST(pmod(xxhash64(id % 5, d), 100) AS DOUBLE) / 50.0
           + CAST(pmod(xxhash64(id, d), 7) AS DOUBLE) / 40.0) AS embedding""")
    val cents = vecs.filter(col("vec_id") < 4)
    val books = Similarity.pqCodebooks(vecs, cents, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 2)
    assert(books.size === 4 && books.forall(_.size === 8))
    // codes are positional indexes into their codebook
    val idx = Similarity.pqIndex(vecs, cents, "vec_id", "embedding", books)
    val codes = idx.selectExpr("explode(codes) AS c").collect().map(_.getLong(0))
    assert(codes.forall(c => c >= 0 && c < 8))
    // nProbe = all cells + rerank >= corpus makes the PQ path a pure
    // pruning layer: the reranked result must equal the exact top-k
    val exact = Similarity.topK(vecs, "vec_id", "embedding", queryId = 1, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rr = Similarity.pqTopKRerank(idx, vecs, cents, "vec_id", "embedding",
      books, queryId = 1, k = 5, nProbe = 4, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rr === exact, s"rerank=$rr exact=$exact")
  }

  test("length percentiles pick exact integer-rank elements") {
    val docs = spark.createDataFrame(
      (1 to 10).map(i => (i.toLong, "a", i.toLong)) :+ ((99L, "b", 7L))
    ).toDF("doc_id", "source", "n_chars")
    val p = graft.api.TextAnalysis.lengthPercentiles(docs, "source", "n_chars")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // idx = (p*n + 99) div 100 over n=10 sorted 1..10: p50->5, p90->9, p99->10
    assert(p("a") === ((10L, 5L, 9L, 10L)), p("a"))
    assert(p("b") === ((1L, 7L, 7L, 7L)), p("b"))
  }

  test("token-budget sample cuts each source at its budget in hash order") {
    // knuth hash order of ids 1,2,3: h(2)=1013904226 < h(1)=2654435761
    // < h(3)=3668339987 — so the stream order is 2, 1, 3
    val docs = spark.createDataFrame(Seq(
      (1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L),
      (7L, "b", 99L)
    )).toDF("doc_id", "source", "n_tok")
    def kept(budgets: Map[String, Long]): Set[Long] =
      graft.api.Mixing.tokenBudgetSample(docs, "doc_id", "source", "n_tok",
        budgets).collect().map(_.getLong(0)).toSet
    assert(kept(Map("a" -> 15L)) === Set(2L, 7L))        // b unbudgeted
    assert(kept(Map("a" -> 25L)) === Set(2L, 1L, 7L))
    assert(kept(Map("a" -> 30L, "b" -> 0L)) === Set(1L, 2L, 3L))
    assert(kept(Map.empty) === Set(1L, 2L, 3L, 7L))
  }

  test("band index save/load round-trips; stale fingerprints refuse") {
    import graft.api.Dedup
    val docs = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six seven"),
      (10L, "alpha beta gamma delta epsilon zeta"),
      (20L, "unrelated words entirely different here now")
    )).toDF("doc_id", "text")
    val corpusSh = Dedup.shingles(docs.filter(col("doc_id") < 10L),
      "doc_id", "text", n = 4)
    val newSh = Dedup.shingles(docs.filter(col("doc_id") >= 10L),
      "doc_id", "text", n = 4)
    val direct = Dedup.incrementalMinhashPairsIndexed(corpusSh,
        Dedup.buildBandIndex(corpusSh), newSh, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the corpus frame is in-memory: a marker file stands in for the
    // source files it is a deterministic function of
    val dir = SparkTestSession.tempDir("bandidx")
    val src = java.nio.file.Files.writeString(dir.resolve("corpus.txt"), "v1")
    def cached() = Dedup.cachedBandIndex(spark, dir.toString, Seq(src.toString))(corpusSh)
    def outcome = graft.api.BuildCache.outcome("bands", dir.toString)
    val (savedIdx, savedSh) = cached()
    val viaSaved = Dedup.incrementalMinhashPairsIndexed(savedSh, savedIdx,
        newSh, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSaved === direct)
    Graft.clear(spark)
    val (loadedIdx, loadedSh) = cached()
    assert(outcome === ((1, 1)), "an unchanged fingerprint must load")
    assert(loadedIdx.numPerms === 128 && loadedIdx.bands === 32)
    val viaLoaded = Dedup.incrementalMinhashPairsIndexed(loadedSh, loadedIdx,
        newSh, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLoaded === direct)
    // a changed corpus fingerprint must refuse, so a stale index can
    // never silently serve wrong candidates
    java.nio.file.Files.writeString(src, "v2")
    Graft.clear(spark)
    cached()
    assert(outcome === ((1, 2)), "a changed fingerprint must rebuild")
    Graft.clear(spark)
  }

  test("segment index round-trips with fingerprint + segTokens guard") {
    import graft.api.Dedup
    val A = "dup dup dup"
    val corpus = spark.createDataFrame(Seq((900L, s"$A core core core")))
      .toDF("doc_id", "text")
    val incr = spark.createDataFrame(Seq(
      (1L, s"$A new new new"), (2L, "bis bis bis tail tail tail")
    )).toDF("doc_id", "text")
    def result(hashes: org.apache.spark.sql.DataFrame) = Dedup
      .incrementalParagraphDedupByHash(hashes, incr, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val fresh = Dedup.segmentHashes(corpus, "doc_id", "text", 3)
    val direct = result(fresh)
    val dir = SparkTestSession.tempDir("segidx")
    val src = java.nio.file.Files.writeString(dir.resolve("corpus.txt"), "v1")
    def cached(segTokens: Int) = Dedup.cachedSegmentIndex(spark, dir.toString,
      Seq(src.toString), segTokens)(fresh)
    def outcome = graft.api.BuildCache.outcome("segs", dir.toString)
    assert(result(cached(3)) === direct)
    Graft.clear(spark)
    assert(result(cached(3)) === direct)
    assert(outcome === ((1, 1)), "matching fingerprint + segTokens must load")
    // a different segmentation, or a changed fingerprint, must rebuild
    cached(5)
    assert(outcome === ((1, 2)))
    java.nio.file.Files.writeString(src, "v2")
    Graft.clear(spark)
    assert(result(cached(3)) === direct)
    assert(outcome === ((1, 3)))
    Graft.clear(spark)
  }

  test("funnel/ewma reject non-string, non-integral user keys loudly") {
    // a DOUBLE (or BINARY) key under the old string-cast group key
    // could silently merge distinct users; now it must throw up front
    val events = spark.createDataFrame(Seq(
      (1.5, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), "view", 1.0)
    )).toDF("user_id", "ts", "event_type", "value")
    val e1 = intercept[IllegalArgumentException] {
      graft.api.Funnels.funnelStages(events, "user_id", "ts", "event_type",
        Seq("view"), windowMicros = 1000000L)
    }
    assert(e1.getMessage.contains("STRING, integral"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.api.Funnels.ewmaHalf(events, "user_id", "ts", "value")
    }
    assert(e2.getMessage.contains("STRING, integral"), e2.getMessage)
    // DECIMAL(p<=18, 0) is an exact integer domain — it must take the
    // integral fast path, not throw
    val dec = events.withColumn("user_id",
      lit(5).cast("decimal(18,0)"))
    val st = graft.api.Funnels.funnelStages(dec, "user_id", "ts",
        "event_type", Seq("view"), windowMicros = 1000000L)
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(st === Map("5" -> 1L), st)
  }

  test("funnel + ewma stream a 10^6-event power user without a fat task") {
    // one user owns a million events — the skew case that OOMs a
    // collect_list formulation; the secondary-sort fold must stream it
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val ev = spark.range(1000000).selectExpr(
      "CAST(7 AS BIGINT) AS user_id",
      s"timestamp_millis(${base}L + id * 10) AS ts",
      "element_at(array('view','click','purchase'), CAST(id % 3 + 1 AS INT)) AS event_type",
      "CAST(id % 97 AS DOUBLE) AS value")
    val st = graft.api.Funnels.funnelStages(ev, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        windowMicros = 3600L * 1000000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st === Map(7L -> 3L), st) // view@0ms, click@10ms, purchase@20ms
    val ew = graft.api.Funnels.ewmaHalf(ev, "user_id", "ts", "value")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(ew === Map(7L -> 1000000L), ew)
  }

  test("funnel keeps a NULL user id as its own group (GROUP BY parity)") {
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val events = spark.createDataFrame(Seq(
      (java.lang.Long.valueOf(1L), ts(0), "view"),
      (null.asInstanceOf[java.lang.Long], ts(0), "view"),
      (null.asInstanceOf[java.lang.Long], ts(5), "click")
    )).toDF("user_id", "ts", "event_type")
    val rows = graft.api.Funnels.funnelStages(events, "user_id", "ts",
        "event_type", Seq("view", "click"), windowMicros = 3600000000L)
      .collect().map(r => Option(r.get(0)) -> r.getLong(1)).toMap
    assert(rows === Map(Some(1L) -> 1L, None -> 2L), rows)
  }

  test("funnel rejects pre-epoch timestamps loudly") {
    val events = spark.createDataFrame(Seq(
      (1L, java.sql.Timestamp.valueOf("1969-12-31 00:00:00"), "view")
    )).toDF("user_id", "ts", "event_type")
    val ex = intercept[Exception] {
      graft.api.Funnels.funnelStages(events, "user_id", "ts", "event_type",
        Seq("view", "click"), windowMicros = 1000000L).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("pre-epoch"), msgs)
  }

  test("ewmaHalf folds in time order with exact halving") {
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val events = spark.createDataFrame(Seq(
      (1L, ts(2), 8.0), (1L, ts(0), 4.0), (1L, ts(1), 2.0), // out of order
      (2L, ts(0), 7.5)
    )).toDF("user_id", "ts", "value")
    val r = graft.api.Funnels.ewmaHalf(events, "user_id", "ts", "value")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    // time order is 4, 2, 8: ((4+2)/2 + 8)/2 = 5.5
    assert(r(1L) === ((3L, 5.5)), r)
    assert(r(2L) === ((1L, 7.5)), "a single event is its own average")
  }

  test("vocabCoverage reaches exactly 1e6 ppm when v covers the vocab") {
    val docs = spark.createDataFrame(Seq(
      (1L, "a a a b b c"), (2L, "a b")
    )).toDF("doc_id", "text")
    val r = TextAnalysis.vocabCoverage(docs, "text", v = 10)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    // 8 tokens: a=4, b=3, c=1 → cum ppm 500000, 875000, 1000000
    assert(r.toSeq === Seq(("a", 4L, 500000L), ("b", 3L, 875000L),
      ("c", 1L, 1000000L)), r.toSeq)
  }

  test("pairSourceMatrix orients pairs and counts per source pair") {
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (1L, 3L), (2L, 3L)
    )).toDF("doc_a", "doc_b")
    val docs = spark.createDataFrame(Seq(
      (1L, "web"), (2L, "books"), (3L, "web")
    )).toDF("doc_id", "source")
    val m = Dedup.pairSourceMatrix(pairs, docs, "doc_id", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m === Map(("books", "web") -> 2L, ("web", "web") -> 1L), m)
  }

  test("pmiBigrams surfaces a planted collocation above independent pairs") {
    // 'neural network' always co-occurs; 'the' pairs with everything —
    // PMI must rank the planted phrase far above the promiscuous word
    val rows = (1 to 40).map(i =>
      (i.toLong, s"the neural network trains on the data shard$i"))
    val docs = spark.createDataFrame(rows).toDF("doc_id", "text")
    val pmi = TextAnalysis.pmiBigrams(docs, "text", minCount = 5, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(pmi.contains(("neural", "network")))
    val planted = pmi(("neural", "network"))
    for ((pair, v) <- pmi if pair._1 == "the" || pair._2 == "the")
      assert(v < planted, s"$pair=$v should rank below neural network=$planted")
  }

  test("hashed-TF cosine ranks an identical doc first at exactly 1.0") {
    val copy = docs.filter(col("doc_id") === 1)
      .select(lit(9001L).as("doc_id"), col("text"))
    val planted = docs.select(col("doc_id"), col("text")).union(copy)
    val top = TextAnalysis.hashedTfTopK(planted, "doc_id", "text",
      queryId = 1, k = 3).collect()
    assert(top.head.getLong(0) === 9001L, top.mkString(";"))
    assert(top.head.getDouble(1) === 1.0, top.mkString(";"))
  }

  test("langIdNgram survives docs shorter than the gram width") {
    // regression: the char-array rewrite made sequence(1, size-1)
    // descend on short docs and element_at threw under ANSI
    val corpus = spark.createDataFrame(Seq(
      (1L, ""), (2L, "a"), (3L, "the quick brown fox")
    )).toDF("doc_id", "text")
    val r = TextAnalysis.langIdNgram(corpus, "doc_id", "text",
      Seq("en" -> Seq("th", "he"), "de" -> Seq("ch", "ei")))
    assert(r.count() === 3) // short docs keep their row, score 0
  }

  test("bigram perplexity separates repeated structure from gibberish") {
    val corpus = spark.createDataFrame(Seq(
      (1L, "a b a b a b a b"), (2L, "a b a b a b a b"),
      (3L, "q z x w p m"), (4L, "a")
    )).toDF("doc_id", "text")
    val r = TextAnalysis.perplexityScore(corpus, "doc_id", "text",
      vocabSize = 4, addK = 0.1)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r.keySet === Set(1L, 2L, 3L)) // doc 4 has no bigram
    assert(r(1L)._1 === 7L && r(3L)._1 === 5L)
    assert(r(1L) === r(2L), "identical docs must score identically")
    assert(r(1L)._2 < r(3L)._2,
      s"high-frequency bigrams must score lower NLL: $r")
  }

  test("bm25 ranks the rare term's doc first and scores match the formula") {
    val corpus = spark.createDataFrame(Seq(
      (1L, "x a b"), (2L, "a b a b"), (3L, "a c c c"), (4L, "b b")
    )).toDF("doc_id", "text")
    val r = TextAnalysis.bm25TopDocs(corpus, "doc_id", "text",
      Seq("x", "a"), k = 10)
    val rows = r.orderBy("rnk").collect()
    // doc 4 has no query term: absent; doc 1 holds the rare term: first
    assert(rows.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    assert(rows.head.getLong(3) === 2L) // doc 1 matched both terms
    // replay the formula driver-side for doc 2 (tf_a=2, dl=4, N=4,
    // df_a=3, avgdl=13/4)
    val idfA = math.log(1.0 + (4L - 3L + 0.5) / (3L + 0.5))
    val exp = BigDecimal(idfA * (2L * (1.2 + 1.0)) /
        (2L + 1.2 * ((1.0 - 0.75) + 0.75 * 4L / (13.0 / 4))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = rows.find(_.getLong(1) == 2L).get.getDouble(2)
    assert(math.abs(got - exp) < 1e-9, s"expected $exp, got $got")
  }

  test("quality + stats + fingerprint run on a renamed corpus") {
    // prove there is no coupling to the test-table column names
    val renamed = docs.select(col("doc_id").as("id"),
      col("text").as("body"), col("n_chars").as("len"))
    assert(TextAnalysis.stats(renamed, "id", "body", "len").count() === 500)
    assert(TextAnalysis.qualityScore(renamed, "id", "body", "len")
      .filter("keep").count() > 0)
    assert(TextAnalysis.fingerprint(renamed, "id", "body")
      .select("fp").distinct().count() > 400)
  }

  test("nearest_centroid matches the interpreted HOF argmax on real embeddings") {
    graft.functions.VectorFunctions.register(spark)
    val e = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val cents = e.filter(col("vec_id") < 16)
      .agg(array_sort(collect_list(struct(col("vec_id").cast("long").as("cid"),
        col("v").as("cv")))).as("cents"))
    val both = e.crossJoin(broadcast(cents))
      .withColumn("fused", expr("nearest_centroid(v, cents)"))
      .withColumn("hof", expr(
        """aggregate(
             transform(cents, c -> named_struct(
               'sc', cosine_sim(v, c.cv), 'cid', c.cid)),
             named_struct('sc', CAST(-2.0 AS DOUBLE), 'cid', CAST(-1 AS BIGINT)),
             (acc, s) -> IF(s.sc > acc.sc, s, acc)).cid"""))
    assert(both.filter(col("fused") =!= col("hof")).count() === 0)
    // empty centroid array → -1 sentinel
    val emptyRes = spark.sql(
      """SELECT nearest_centroid(array(1.0D),
           CAST(array() AS ARRAY<STRUCT<id: BIGINT, cv: ARRAY<DOUBLE>>>)) AS c""")
      .collect().head.getLong(0)
    assert(emptyRes === -1L)
  }

  test("lsh_bucket matches the SQL CASE-sum form, NaN-bearing vectors included") {
    graft.functions.VectorFunctions.register(spark)
    val bits = 12
    // the per-bit CASE form the kernel replaced: Spark orders NaN above
    // every number, so a NaN dot product sets its bit
    val caseSum = (0 until bits).map { b =>
      s"""CASE WHEN aggregate(zip_with(v,
            transform(sequence(0, size(v) - 1), j ->
              IF((xxhash64(CAST($b AS BIGINT), CAST(j AS BIGINT)) & 1L) = 0L,
                 1.0D, -1.0D)),
            (x, r) -> x * r), 0.0D, (acc, y) -> acc + y) >= 0
          THEN ${1L << b}L ELSE 0L END"""
    }.mkString(" + ")
    val rows = spark.sql(
      """SELECT * FROM VALUES
           (0, array(CAST('NaN' AS DOUBLE), 1.0D, -2.0D)),
           (1, array(1.0D, CAST('NaN' AS DOUBLE))),
           (2, array(CAST('Infinity' AS DOUBLE), CAST('-Infinity' AS DOUBLE), 0.5D)),
           (3, array(0.25D, -1.5D, 3.0D, -0.0D)),
           (4, array(1.0D, CAST(NULL AS DOUBLE))),
           (5, CAST(array() AS ARRAY<DOUBLE>)),
           (6, CAST(NULL AS ARRAY<DOUBLE>))
         AS t(id, v)""")
      .select(col("id"), expr(s"lsh_bucket(v, $bits)"), expr(caseSum))
      .collect()
    assert(rows.length === 7)
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"vector ${r.getInt(0)}"))
    assert(rows.find(_.getInt(0) == 0).get.getLong(1) === (1L << bits) - 1,
      "a NaN sum sets every bit")
  }

  test("vec_sum_agg equals the exploded per-dimension sum") {
    graft.functions.VectorSumAgg.register(spark)
    val e = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"),
      (col("vec_id") % 7).as("g"))
    val fused = e.groupBy("g").agg(expr("vec_sum_agg(v)").as("s"))
      .select(col("g"), expr("transform(s, x -> round(x, 6))").as("s"))
    val exploded = e.select(col("g"), posexplode(col("v")))
      .groupBy("g", "pos").agg(sum("col").as("m"))
      .groupBy("g")
      .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .getField("m").as("s"))
      .select(col("g"), expr("transform(s, x -> round(x, 6))").as("s"))
    assert(fused.orderBy("g").collect().toSeq
      === exploded.orderBy("g").collect().toSeq)
  }

  test("Graft.clear unpersists everything the library pinned for a session") {
    // child session AND a private copy of the data: the CacheManager is
    // shared across sessions and dedupes plan-identical persists, so a
    // run over the common sfDir pins nothing new once any earlier suite
    // has warmed the same shingle cache — a unique path makes the plan
    // (and thus the pinned frames) unambiguously this test's own
    val dir = SparkTestSession.tempDir("clearspec")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sfDir, "documents.parquet"),
      dir.resolve("documents.parquet"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val s2 = spark.newSession()
    SparkEntry.queries("q_dedup_near")(s2, dir.toString).collect()
    val during = spark.sparkContext.getPersistentRDDs.keySet
    assert((during -- before).nonEmpty, "dedup pipeline should pin frames")
    graft.Graft.clear(s2)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      "clear must unpersist every frame the library pinned for the session")
    // caches rebuild lazily: the query still runs after a clear
    assert(SparkEntry.queries("q_dedup_near")(s2, dir.toString).collect().nonEmpty)
    graft.Graft.clear(s2)
  }

  test("frame sampling expands only video payloads") {
    val frames = graft.multimodal.Multimodal
      .frameSample(spark, docs, everyK = 30)
    val ids = frames.select("doc_id").distinct().count()
    assert(ids > 0 && ids < 500, "only the video third of the corpus")
    assert(frames.filter("frame_idx % 30 != 0").count() === 0)
  }
}

/** graft.GraftExtensions installs the Catalyst functions at session
  * build time (spark.sql.extensions) — no imperative registration.
  */
class ExtensionsSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("spark.sql.extensions=graft.GraftExtensions provides all functions") {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("ext-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate may hand back another suite's SHARED session, where
    // functions could be present via imperative register() — only the
    // extension-built session proves the wiring. Ownership must also
    // gate the finally-stop: cancelling and then stopping a session we
    // did NOT create kills Spark for every suite that runs after us
    // (observed once suite ordering put a shared-session suite first).
    val owned = s.conf.getOption("spark.sql.extensions")
      .contains("graft.GraftExtensions")
    try {
      assume(owned,
        "shared session reused; extension path not exercised in this run")
      val r = s.sql(
        """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                  cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c""")
        .collect().head
      assert(r.getDouble(0) === 11.0)
      assert(r.getDouble(1) === 1.0)
      val sig = s.sql(
        """SELECT minhash_sig(t, 16) AS mh, simhash_sig(t) AS sh
           FROM VALUES ('a'), ('b'), ('c') AS v(t)""").collect().head
      assert(sig.getSeq[Long](0).length === 16)
      assert(sig.get(1).isInstanceOf[Long])
      // BIGINT literal k must resolve too (was a ClassCastException)
      val sigL = s.sql(
        """SELECT minhash_sig(t, 16L) AS mh
           FROM VALUES ('a'), ('b') AS v(t)""").collect().head
      assert(sigL.getSeq[Long](0).length === 16)
      val err = intercept[Exception](s.sql(
        "SELECT minhash_sig(t, 1.5) FROM VALUES ('a') AS v(t)").collect())
      assert(err.getMessage.contains("integral literal"))
      val extra = s.sql(
        """SELECT nearest_centroid(array(1.0D, 0.0D),
                    array(named_struct('id', 7L, 'cv', array(0.0D, 1.0D)),
                          named_struct('id', 9L, 'cv', array(1.0D, 0.0D)))) AS nc,
                  (SELECT vec_sum_agg(v) FROM VALUES (array(1.0D, 2.0D)),
                     (array(3.0D, 4.0D)) AS t(v)) AS vs""").collect().head
      assert(extra.getLong(0) === 9L)
      assert(extra.getSeq[Double](1) === Seq(4.0, 6.0))
    } finally if (owned) s.stop()
  }
}
