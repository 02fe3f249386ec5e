package graft.tools

import org.apache.spark.sql.functions._

/** Synthetic 10x scale-up probe: replicates the sf0.1 corpus with
  * shifted ids and measures the scale-sensitive operators, so growth
  * factors (not absolute times) validate the complexity claims —
  * near-dup candidate generation must grow ~linearly with the corpus
  * (inverted index), NOT quadratically, and the big joins/aggs must
  * stay shuffle-bound rather than exploding.
  *
  * Usage: ScaleProbe <sfDir> [mult]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.SparkConfig.builder("graft-scaleprobe",
      graft.SparkConfig.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.api.Dedup

    // running total of shuffle-write bytes: the probe reports per-block
    // deltas so growth factors expose any hidden quadratic shuffle, not
    // just wall-clock noise
    val counters = graft.obs.SparkCounters.install(spark.sparkContext)
    def shufSnap(): Long = counters.snapshot("shuffle_write_bytes").toLong

    def tm[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$name%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    // documents x mult with distinct ids. Every WORD gets a per-replica
    // suffix: the word set of each replica is a bijective renaming of
    // the original, so the within-replica shingle/df/duplicate structure
    // is EXACTLY the 1x corpus's, while every shingle of every replica
    // carries its marker — replica groups are pairwise disjoint in
    // shingle space and pair density is flat by construction. (Appending
    // one tag token to the whole TEXT leaves >90% of a replica's
    // shingles shared with its siblings — jaccard 0.93+ — planting a
    // hidden mult² self-replica pair term and multiplying every df by
    // mult: the probe would then measure its own replication artifact,
    // not corpus growth.) The 1x baseline runs through the same
    // transform so growth factors compare like for like.
    val docs0 = spark.read.parquet(s"$dir/documents.parquet")
    val n0 = docs0.count()
    val reps = spark.range(mult).select(col("id").as("rep"))
    def docsFor(m: Int) = docs0
      .crossJoin(spark.range(m).select(col("id").as("rep")))
      .select((col("doc_id") + col("rep") * lit(1000000)).as("doc_id"),
        expr("array_join(transform(split(text, ' '), " +
          "w -> concat(w, 'zz', CAST(rep AS STRING))), ' ')").as("text"))
    val docs = docsFor(mult)
    println(s"docs: $n0 -> ${n0 * mult}")

    val sh1 = Dedup.shingles(docsFor(1), "doc_id", "text")
    val sn0 = shufSnap()
    val t1 = System.nanoTime()
    val p1 = Dedup.nearDuplicatePairs(sh1, 0.5).count()
    val d1 = (System.nanoTime() - t1) / 1e9
    val sn1 = shufSnap()
    val shN = Dedup.shingles(docs, "doc_id", "text")
    val tN = System.nanoTime()
    val pN = Dedup.nearDuplicatePairs(shN, 0.5).count()
    val dN = (System.nanoTime() - tN) / 1e9
    val sn2 = shufSnap()
    println(f"near-dup pairs: 1x=$p1 (${d1}%.2f s, ${(sn1 - sn0) / 1e6}%.1f MB shuffled)  " +
      f"${mult}x=$pN (${dN}%.2f s, ${(sn2 - sn1) / 1e6}%.1f MB)  " +
      f"time-growth=${dN / d1}%.1fx pair-growth=${pN.toDouble / p1}%.1fx " +
      f"shuffle-growth=${(sn2 - sn1).toDouble / (sn1 - sn0)}%.1fx (corpus ${mult}x)")

    // hot-shingle skew: plant a boilerplate prefix into every 5th doc
    // (3 shingles of df ~ corpus/5 each). Uncapped, each hot posting
    // contributes df²/2 candidate rows through the self-join; a cap
    // below the planted df drops them. Report both walls and pair
    // counts — the capped run must not inherit the quadratic term and
    // must not lose real pairs (true near-dups share rarer shingles).
    val hotDocs = docs.withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(lit("follow us on social media today "), col("text")))
        .otherwise(col("text")))
    val shHot = Dedup.shingles(hotDocs, "doc_id", "text")
    val hotDf = shHot.count() / 5
    val cap = (hotDf / 2).toInt
    val tCap = System.nanoTime()
    val pCap = Dedup.nearDuplicatePairs(shHot, 0.5, maxDf = cap).count()
    val dCap = (System.nanoTime() - tCap) / 1e9
    // the uncapped run IS the quadratic term (df²/2 candidate rows per
    // hot posting) — it exists to show what the cap saves, and only
    // fits in a probe run at ≤10x (92 s at 10x ⇒ ~2.5 h at 100x)
    if (mult <= 10) {
      val tUnc = System.nanoTime()
      val pUnc = Dedup.nearDuplicatePairs(shHot, 0.5, maxDf = Int.MaxValue).count()
      val dUnc = (System.nanoTime() - tUnc) / 1e9
      println(f"hot-shingle (df~$hotDf, cap=$cap): capped=$pCap pairs ${dCap}%.2f s   " +
        f"uncapped=$pUnc pairs ${dUnc}%.2f s  (uncapped hot-candidate term ~ 3·df²/2 = ${3 * hotDf * hotDf / 2})")
    } else
      println(f"hot-shingle (df~$hotDf, cap=$cap): capped=$pCap pairs ${dCap}%.2f s   " +
        f"uncapped SKIPPED at ${mult}x (hot-candidate term ~ 3·df²/2 = ${3 * hotDf * hotDf / 2} rows)")

    // clustering + incremental dedup: the iterative and index-join paths
    // whose growth factors matter most at 100 TB
    val pr1 = Dedup.nearDuplicatePairs(sh1, 0.5).persist(); pr1.count()
    val prN = Dedup.nearDuplicatePairs(shN, 0.5).persist(); prN.count()
    val sb0 = shufSnap()
    val tc1 = System.nanoTime()
    val c1 = Dedup.duplicateClusters(pr1).count()
    val dc1 = (System.nanoTime() - tc1) / 1e9
    val sb1 = shufSnap()
    val tcN = System.nanoTime()
    val cN = Dedup.duplicateClusters(prN).count()
    val dcN = (System.nanoTime() - tcN) / 1e9
    val sb2 = shufSnap()
    println(f"clusters: 1x=$c1 (${dc1}%.2f s, ${(sb1 - sb0) / 1e6}%.1f MB shuffled)  " +
      f"${mult}x=$cN (${dcN}%.2f s, ${(sb2 - sb1) / 1e6}%.1f MB)  " +
      f"time-growth=${dcN / dc1}%.1fx shuffle-growth=${(sb2 - sb1).toDouble / (sb1 - sb0)}%.1fx")
    pr1.unpersist(); prN.unpersist()

    val ti1 = System.nanoTime()
    val i1 = Dedup.incrementalMinhashPairs(
      sh1.filter(col("doc_id") % 10 =!= 0), sh1.filter(col("doc_id") % 10 === 0), 0.5).count()
    val di1 = (System.nanoTime() - ti1) / 1e9
    val si1 = shufSnap()
    val tiN = System.nanoTime()
    val iN = Dedup.incrementalMinhashPairs(
      shN.filter(col("doc_id") % 10 =!= 0), shN.filter(col("doc_id") % 10 === 0), 0.5).count()
    val diN = (System.nanoTime() - tiN) / 1e9
    val siN = shufSnap()
    println(f"incremental dedup: 1x=$i1 (${di1}%.2f s)  ${mult}x=$iN (${diN}%.2f s, " +
      f"${(siN - si1) / 1e6}%.1f MB shuffled)  time-growth=${diN / di1}%.1fx")

    // decontamination: the eval set stays FIXED (benchmarks don't grow
    // with the corpus) while the corpus scales mult x. Cost must be one
    // corpus pass against a broadcast posting list — and because every
    // replica's words are suffixed, only the 1x slice can collide, so
    // the flagged-doc count is INVARIANT under replication: any growth
    // in output would be a replication artifact, not contamination.
    import graft.api.Decontamination
    val eval1 = Dedup.shingles(
      docsFor(1).filter(col("doc_id") % 10 === 1), "doc_id", "text")
    val td1 = System.nanoTime()
    val dec1 = Decontamination.contaminationReport(
      sh1.filter(col("doc_id") % 10 =!= 1), eval1).count()
    val dd1 = (System.nanoTime() - td1) / 1e9
    val sd1 = shufSnap()
    val tdN = System.nanoTime()
    val decN = Decontamination.contaminationReport(
      shN.filter(col("doc_id") % 10 =!= 1), eval1).count()
    val ddN = (System.nanoTime() - tdN) / 1e9
    val sdN = shufSnap()
    println(f"decontamination (fixed eval): 1x flagged=$dec1 (${dd1}%.2f s)  " +
      f"${mult}x flagged=$decN (${ddN}%.2f s, ${(sdN - sd1) / 1e6}%.1f MB shuffled)  " +
      f"time-growth=${ddN / dd1}%.1fx flagged-invariant=${dec1 == decN}")

    // FUZZY decontamination under the same fixed eval set: candidates
    // come only from cross corpus x eval postings, so the flagged set
    // is likewise INVARIANT under replication (suffixed replicas never
    // collide with the 1x eval vocabulary) and the wall rides the one
    // corpus posting pass
    val tfz1 = System.nanoTime()
    val fz1 = Decontamination.fuzzyContamination(
      sh1.filter(col("doc_id") % 10 =!= 1), eval1, threshold = 0.5).count()
    val dfz1 = (System.nanoTime() - tfz1) / 1e9
    val tfzN = System.nanoTime()
    val fzN = Decontamination.fuzzyContamination(
      shN.filter(col("doc_id") % 10 =!= 1), eval1, threshold = 0.5).count()
    val dfzN = (System.nanoTime() - tfzN) / 1e9
    println(f"fuzzy-decontam (fixed eval): 1x flagged=$fz1 (${dfz1}%.2f s)  " +
      f"${mult}x flagged=$fzN (${dfzN}%.2f s)  " +
      f"time-growth=${dfzN / dfz1}%.1fx flagged-invariant=${fz1 == fzN}")

    // sequence packing: strata scale WITH the corpus (at 100 TB the
    // stratum key is a shard id with thousands of values), so per-
    // stratum work is constant and the fold parallelizes — wall growth
    // must track corpus size, never stratum count
    import graft.api.Packing
    def packIn(m: Int) = docsFor(m)
      .withColumn("stratum",
        expr("concat((doc_id % 1000000) % 50, '-', doc_id div 1000000)"))
      .select(col("stratum"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val tp1 = System.nanoTime()
    val packed1 = Packing.packGreedy(packIn(1), "doc_id", "stratum",
      "n_tokens", budget = 2048).count()
    val dp1 = (System.nanoTime() - tp1) / 1e9
    val tpN = System.nanoTime()
    val packedN = Packing.packGreedy(packIn(mult), "doc_id", "stratum",
      "n_tokens", budget = 2048).count()
    val dpN = (System.nanoTime() - tpN) / 1e9
    println(f"packing (${50}->${50 * mult} strata): 1x=$packed1 docs ${dp1}%.2f s  " +
      f"${mult}x=$packedN docs ${dpN}%.2f s  time-growth=${dpN / dp1}%.1fx " +
      f"(corpus ${mult}x, per-stratum size constant)")

    // lineitem x mult joined to orders (broadcast-ineligible fact-fact)
    val li0 = spark.read.parquet(s"$dir/lineitem.parquet")
    val li = li0.crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * lit(100000000L))
    val o0 = spark.read.parquet(s"$dir/orders.parquet")
    val o = o0.crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * lit(100000000L))
    val tj = System.nanoTime()
    val nj = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").count().count()
    val dj = (System.nanoTime() - tj) / 1e9
    println(f"fact-fact join+agg at ${mult}x lineitem (${li0.count() * mult} rows): ${dj}%.2f s ($nj groups)")

    // ANN at mult x vectors: brute-force scan vs IVF probe (same k)
    import graft.api.Similarity
    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
    val emb = emb0.crossJoin(reps)
      .withColumn("vec_id", col("vec_id") + col("rep") * lit(1000000))
      .persist()
    println(s"vectors: ${emb.count()}")
    val tb = System.nanoTime()
    Similarity.topK(emb, "vec_id", "embedding", queryId = 1, k = 10).count()
    val db = (System.nanoTime() - tb) / 1e9
    // index construction (centroids + assignment) is offline — a real
    // deployment writes it bucketed once; only the probe is per-query
    val cents0 = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 64, iters = 2)
      .select(col("cent_id").as("vec_id"), col("cv").as("embedding"))
      .localCheckpoint()
    val index = Similarity.ivfIndex(emb, cents0, "vec_id", "embedding")
      .persist()
    index.count()
    val cents = cents0.select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val ti = System.nanoTime()
    Similarity.ivfSearch(index, cents, queryId = 1, k = 10, nProbe = 8).count()
    val di = (System.nanoTime() - ti) / 1e9
    // wall times converge at local scale (both overhead-bound); the
    // scale argument is candidates scored per query
    val total = index.count()
    val probed = {
      val qv = index.filter(col("vec_id") === 1).select(col("v").as("qv"))
      val pr = cents.crossJoin(broadcast(qv))
        .withColumn("cd", expr("cosine_sim(qv, cv)"))
        .orderBy(col("cd").desc, col("cent_id")).limit(8).select("cent_id")
      index.join(broadcast(pr), "cent_id").count()
    }
    println(f"ANN at ${mult}x: brute=${db}%.2f s scoring $total vecs; " +
      f"ivf probe=${di}%.2f s scoring $probed vecs (${100.0 * probed / total}%.1f%%)")

    // bucket-pruned IVF (the persisted production shape) + multi-probe
    // LSH at the same scale: the pruned probe's IO is physically
    // nProbe/nCells of the index, the ring probe trades (bits+1)x
    // candidates for recall
    val tbl = Similarity.ivfIndexBucketed(spark, s"probe${mult}x", emb,
      cents0.select(col("vec_id"), col("embedding")), "vec_id", "embedding")
    val sp0 = shufSnap()
    val tp = System.nanoTime()
    Similarity.ivfSearchPruned(spark, tbl, cents, queryId = 1, k = 10,
      nProbe = 8).count()
    val dp = (System.nanoTime() - tp) / 1e9
    val sp1 = shufSnap()
    val tl = System.nanoTime()
    Similarity.lshTopKMultiProbe(emb, "vec_id", "embedding", queryId = 1,
      k = 10, bits = 8).count()
    val dl = (System.nanoTime() - tl) / 1e9
    println(f"ANN at ${mult}x: bucket-pruned ivf=${dp}%.2f s " +
      f"(${(sp1 - sp0) / 1e6}%.1f MB shuffled — the probe is a pruned scan, " +
      f"not a shuffle); multi-probe lsh=${dl}%.2f s")

    // int8-quantized brute force at mult x vectors: same linear scan as
    // the exact baseline but over 1-byte components — the scale win is
    // index footprint/bandwidth (8x vs double), and the ranking must
    // stay deterministic. Recall vs the exact scan is the honesty check.
    val exTop = Similarity.topK(emb, "vec_id", "embedding", queryId = 1,
      k = 10).collect().map(_.getLong(0)).toSet
    // offline/online split: the quantize pass is paid ONCE at index
    // build (localCheckpoint stands in for the persisted index); every
    // query pays only the 1-byte scan + the codegen'd integer kernel
    val tqb = System.nanoTime()
    val qzIdx = Similarity.quantize(emb, "vec_id", "embedding")
      .localCheckpoint()
    val dqb = (System.nanoTime() - tqb) / 1e9
    val tq = System.nanoTime()
    val qTopRows = Similarity.quantizedSearch(qzIdx, queryId = 1, k = 10)
      .collect()
    val dq = (System.nanoTime() - tq) / 1e9
    val qRecall = qTopRows.map(_.getLong(0)).count(exTop.contains)
    println(f"quantized ANN at ${mult}x: int8 build=${dqb}%.2f s " +
      f"scan=${dq}%.2f s (exact brute=${db}%.2f s), " +
      f"top-10 recall vs exact=$qRecall/10 (index bytes ~1/8 of double)")

    // Semantic dedup (SemDeDup) at mult x: replicas are EXACT vector
    // copies under new (strictly larger) ids, so every replica lands in
    // its original's cell and is dominated by it (cos = 1) while no
    // replica can dominate an original — the survivor set must be
    // IDENTICAL to 1x given the same centroids. That is the exactness
    // invariant; the work growth with FIXED k is the documented mult²
    // within-cell term (cells grow with the corpus), so the probe also
    // runs k scaled ∝ corpus — the deployment rule — where per-cell
    // size, and with it candidate work per vector, stays flat.
    val semCents = Similarity.kmeansCentroids(emb0, "vec_id", "embedding",
        k = 16, iters = 2)
      .select(col("cent_id").as("vec_id"), col("cv").as("embedding"))
      .localCheckpoint()
    def semSig(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).cast("long"), coalesce(sum(col("vec_id")), lit(0L)))
        .collect()(0)
    val ss0 = shufSnap()
    val ts1 = System.nanoTime()
    val sem1 = semSig(Dedup.semanticDedup(emb0, semCents,
      "vec_id", "embedding", 0.2))
    val ds1 = (System.nanoTime() - ts1) / 1e9
    val ss1 = shufSnap()
    val tsN = System.nanoTime()
    val semN = semSig(Dedup.semanticDedup(emb, semCents,
      "vec_id", "embedding", 0.2))
    val dsN = (System.nanoTime() - tsN) / 1e9
    val ss2 = shufSnap()
    require(sem1 == semN,
      s"semantic-dedup survivors must be invariant under exact-copy " +
        s"replication: 1x=$sem1 ${mult}x=$semN")
    val semCentsN = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 16 * mult, iters = 2)
      .select(col("cent_id").as("vec_id"), col("cv").as("embedding"))
      .localCheckpoint()
    val tsK = System.nanoTime()
    val semK = Dedup.semanticDedup(emb, semCentsN,
      "vec_id", "embedding", 0.2).count()
    val dsK = (System.nanoTime() - tsK) / 1e9
    println(f"semantic dedup: 1x survivors=${sem1.getLong(0)} (${ds1}%.2f s, " +
      f"${(ss1 - ss0) / 1e6}%.1f MB shuffled)  ${mult}x same-centroids " +
      f"survivors IDENTICAL (${dsN}%.2f s, ${(ss2 - ss1) / 1e6}%.1f MB — " +
      f"fixed k: within-cell term grows ${mult}²)  ${mult}x with k∝corpus: " +
      f"$semK survivors ${dsK}%.2f s (per-cell work flat)")

    // streaming semantic incremental parity at mult x corpus: a fixed
    // 3-file increment (ids ascending with batch order) replays through
    // the exactly-once foreachBatch sink against the STATIC corpus IVF
    // index; the union of per-batch survivors must EQUAL the one-shot
    // semanticDedupIncrement result (batch-boundary parity via the
    // processed-newcomer fold), and the survivor set must be invariant
    // to corpus replication (replicas are exact copies). The corpus is
    // assigned once per scale — per-run cost is increment + probed
    // cells, never a corpus re-shuffle.
    locally {
      val incBase = 50000000L
      val nEmb = emb0.count()
      val incVecs = emb0.select(
        (col("vec_id") + lit(incBase)).as("vec_id"),
        expr("IF(vec_id % 2 = 0, embedding, reverse(embedding))")
          .as("embedding"))
      val incDir = s"${sys.props("java.io.tmpdir")}/graft-probe-semincr"
      (0 until 3).foreach { i =>
        val lo = incBase + i * nEmb / 3
        val hi = if (i == 2) Long.MaxValue else incBase + (i + 1) * nEmb / 3
        incVecs.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(s"$incDir/s$i")
      }
      val glob = s"$incDir/s*"
      val vecSchema = spark.read.parquet(s"$incDir/s0").schema
      val incAll = spark.read.parquet(glob)
      def survivors(corpus: org.apache.spark.sql.DataFrame): (Set[Long], Set[Long], Double, Double) = {
        val t0 = System.nanoTime()
        val st = graft.streaming.Streams.semanticDedupReplay(spark, glob,
            vecSchema, "vec_id", "embedding", corpus, semCents, 0.9)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val d0 = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val ba = Dedup.semanticDedupIncrement(corpus, semCents, incAll,
            "vec_id", "embedding", 0.9)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        (st, ba, d0, (System.nanoTime() - t1) / 1e9)
      }
      val idx1 = Similarity.ivfIndex(emb0, semCents, "vec_id", "embedding")
        .persist()
      idx1.count()
      val (st1, ba1, dst1, dba1) = survivors(idx1)
      require(st1 == ba1, s"stream/batch semantic-incr parity broke at 1x: " +
        s"stream=${st1.size} batch=${ba1.size}")
      val idxN = Similarity.ivfIndex(emb, semCents, "vec_id", "embedding")
        .persist()
      idxN.count()
      val (stN, baN, dstN, dbaN) = survivors(idxN)
      require(stN == baN, s"stream/batch semantic-incr parity broke at ${mult}x")
      require(stN == st1, s"survivors must be invariant under exact-copy " +
        s"corpus replication: 1x=${st1.size} ${mult}x=${stN.size}")
      idx1.unpersist(); idxN.unpersist()
      println(f"stream semantic-incr (${mult}x corpus): survivors=${st1.size} " +
        f"(stream==one-shot batch at BOTH scales, invariant under replication)  " +
        f"1x stream ${dst1}%.2f s / batch ${dba1}%.2f s  " +
        f"${mult}x stream ${dstN}%.2f s / batch ${dbaN}%.2f s")
    }

    // BM25 at mult x corpus: the dl pass is a projection and the
    // tokenized volume is the query terms' posting lists, so wall must
    // track corpus size ~linearly (never posting-explode the full
    // vocabulary). Replicated words are suffixed, so only the 1x slice
    // matches the query terms — scoring volume is FIXED while the
    // scanned corpus grows mult x.
    import graft.api.TextAnalysis
    // the zz0 suffix targets replica 0's vocabulary: real posting lists
    // at every mult (plain words match NOTHING after the word renaming)
    val bmTerms = Seq("dupzz0", "vectorzz0", "mergezz0", "scanzz0")
    val tm1 = System.nanoTime()
    val bm1 = TextAnalysis.bm25TopDocs(docsFor(1), "doc_id", "text",
      bmTerms, k = 20).count()
    val dm1 = (System.nanoTime() - tm1) / 1e9
    val tmN = System.nanoTime()
    val bmN = TextAnalysis.bm25TopDocs(docs, "doc_id", "text",
      bmTerms, k = 20).count()
    val dmN = (System.nanoTime() - tmN) / 1e9
    println(f"bm25 (fixed query, ${mult}x corpus): 1x=$bm1 rows ${dm1}%.2f s  " +
      f"${mult}x=$bmN rows ${dmN}%.2f s  time-growth=${dmN / dm1}%.1fx")

    // bigram-LM perplexity at mult x corpus: the word suffixing grows
    // the raw vocabulary mult x, but the top-V cap bounds the broadcast
    // and the smoothing denominator regardless — model size rides on
    // min(V, vocab)², never corpus tokens, so wall + shuffle must grow
    // ~linearly with the corpus
    val sx0 = shufSnap()
    val tx1 = System.nanoTime()
    val px1 = TextAnalysis.perplexityScore(docsFor(1), "doc_id", "text",
      vocabSize = 1000).count()
    val dx1 = (System.nanoTime() - tx1) / 1e9
    val sx1 = shufSnap()
    val txN = System.nanoTime()
    val pxN = TextAnalysis.perplexityScore(docs, "doc_id", "text",
      vocabSize = 1000).count()
    val dxN = (System.nanoTime() - txN) / 1e9
    val sx2 = shufSnap()
    println(f"perplexity (V=1000 cap, ${mult}x corpus): 1x=$px1 docs ${dx1}%.2f s " +
      f"(${(sx1 - sx0) / 1e6}%.1f MB shuffled)  ${mult}x=$pxN docs ${dxN}%.2f s " +
      f"(${(sx2 - sx1) / 1e6}%.1f MB)  time-growth=${dxN / dx1}%.1fx " +
      f"shuffle-growth=${(sx2 - sx1).toDouble / (sx1 - sx0)}%.1fx")

    // hashed-TF similarity at mult x corpus: the bucket join's output
    // rides on per-bucket postings (bounded by dim buckets over the
    // corpus), so wall must track corpus size ~linearly — never
    // corpus x corpus
    val th1 = System.nanoTime()
    val ht1 = TextAnalysis.hashedTfTopK(docsFor(1), "doc_id", "text",
      queryId = 1, k = 10).count()
    val dh1 = (System.nanoTime() - th1) / 1e9
    val thN = System.nanoTime()
    val htN = TextAnalysis.hashedTfTopK(docs, "doc_id", "text",
      queryId = 1, k = 10).count()
    val dhN = (System.nanoTime() - thN) / 1e9
    println(f"hashed-tf top-k (${mult}x corpus): 1x=$ht1 rows ${dh1}%.2f s  " +
      f"${mult}x=$htN rows ${dhN}%.2f s  time-growth=${dhN / dh1}%.1fx")

    // prefix boilerplate at mult x corpus: replica word-renaming keeps
    // each replica's prefix structure identical and disjoint, so the
    // flagged set must be EXACTLY mult x the 1x set (hot groups never
    // merge across replicas) and the wall ~linear — the hot-set join
    // side stays broadcast-sized no matter the corpus
    val tpb1 = System.nanoTime()
    val pb1 = TextAnalysis.prefixBoilerplate(docsFor(1), "doc_id", "text",
      k = 4, minDocs = 2).count()
    val dpb1 = (System.nanoTime() - tpb1) / 1e9
    val tpbN = System.nanoTime()
    val pbN = TextAnalysis.prefixBoilerplate(docs, "doc_id", "text",
      k = 4, minDocs = 2).count()
    val dpbN = (System.nanoTime() - tpbN) / 1e9
    println(f"prefix-boiler (${mult}x corpus): 1x=$pb1 flagged ${dpb1}%.2f s  " +
      f"${mult}x=$pbN flagged ${dpbN}%.2f s  time-growth=${dpbN / dpb1}%.1fx  " +
      f"flag-growth=${pbN.toDouble / pb1}%.1fx (expect exactly ${mult}x)")

    // span removal at mult x corpus: replica word-renaming keeps each
    // replica's gram space disjoint, so every replica reproduces the 1x
    // run/keeper structure independently — removed token mass must be
    // EXACTLY mult x, and the wall ~linear (gram exchange + per-doc
    // islands + one corpus-vs-cuts join; no cross-replica pairing)
    val tsr1 = System.nanoTime()
    val sr1 = Dedup.removeSharedSegments(docsFor(1), "doc_id", "text",
      k = 8, minLen = 3).agg(sum("n_removed")).collect()(0).getLong(0)
    val dsr1 = (System.nanoTime() - tsr1) / 1e9
    val tsrN = System.nanoTime()
    val srN = Dedup.removeSharedSegments(docs, "doc_id", "text",
      k = 8, minLen = 3).agg(sum("n_removed")).collect()(0).getLong(0)
    val dsrN = (System.nanoTime() - tsrN) / 1e9
    println(f"span-removal (${mult}x corpus): 1x=$sr1 tokens cut ${dsr1}%.2f s  " +
      f"${mult}x=$srN tokens cut ${dsrN}%.2f s  time-growth=${dsrN / dsr1}%.1fx  " +
      f"cut-growth=${srN.toDouble / sr1}%.1fx (expect exactly ${mult}x)")

    // per-gram span removal: the same disjoint-gram argument, so each
    // replica reproduces the 1x keeper/run structure and the cut mass is
    // exactly mult x
    val tsrg1 = System.nanoTime()
    val sgc1 = Dedup.removeSharedSegmentsByGram(docsFor(1), "doc_id", "text",
      8, 3).agg(sum("n_removed")).collect()(0).getLong(0)
    val dsgc1 = (System.nanoTime() - tsrg1) / 1e9
    val tsrgN = System.nanoTime()
    val sgcN = Dedup.removeSharedSegmentsByGram(docs, "doc_id", "text",
      8, 3).agg(sum("n_removed")).collect()(0).getLong(0)
    val dsgcN = (System.nanoTime() - tsrgN) / 1e9
    println(f"span-removal-gram (${mult}x corpus): 1x=$sgc1 tokens cut ${dsgc1}%.2f s  " +
      f"${mult}x=$sgcN tokens cut ${dsgcN}%.2f s  time-growth=${dsgcN / dsgc1}%.1fx  " +
      f"cut-growth=${sgcN.toDouble / sgc1}%.1fx (expect exactly ${mult}x)")

    // exact duplicate-extent removal (delete-all, occurrence-counted) at
    // mult x: replica word-renaming keeps per-replica duplication
    // structure identical and cross-replica grams disjoint, so the cut
    // mass must be EXACTLY mult x and the wall ~linear (same gram
    // exchange + count agg + per-doc islands as the keeper variants —
    // no suffix-array construction, nothing corpus²)
    val tsex1 = System.nanoTime()
    val sex1 = Dedup.removeDuplicatedExtents(docsFor(1), "doc_id", "text",
      k = 8).agg(sum("n_removed")).collect()(0).getLong(0)
    val dsex1 = (System.nanoTime() - tsex1) / 1e9
    val tsexN = System.nanoTime()
    val sexN = Dedup.removeDuplicatedExtents(docs, "doc_id", "text",
      k = 8).agg(sum("n_removed")).collect()(0).getLong(0)
    val dsexN = (System.nanoTime() - tsexN) / 1e9
    require(sexN == sex1 * mult,
      s"exact-extent cut mass must be exactly ${mult}x: 1x=$sex1 ${mult}x=$sexN")
    println(f"span-exact (${mult}x corpus): 1x=$sex1 tokens cut ${dsex1}%.2f s  " +
      f"${mult}x=$sexN tokens cut ${dsexN}%.2f s  time-growth=${dsexN / dsex1}%.1fx  " +
      f"cut-growth=${sexN.toDouble / sex1}%.1fx (exactly ${mult}x required)")

    // adaptive quality at mult x corpus: the histogram-rank window sees
    // (source, ppm) counts only, so thresholds are INVARIANT under
    // replication (each replica adds the same score distribution) and
    // kept counts exactly mult x. Plain replication here — the
    // word-suffix transform would rename the stopwords themselves; this
    // op has no cross-replica pairing to poison, so ids+source suffice.
    def docsForSrc(m: Int) = docs0
      .crossJoin(spark.range(m).select(col("id").as("rep")))
      .select((col("doc_id") + col("rep") * lit(1000000)).as("doc_id"),
        col("text"), col("source"))
    val taq1 = System.nanoTime()
    val aq1 = TextAnalysis.adaptiveQualityThresholds(docsForSrc(1), "source",
      "text").agg(sum("n_kept")).collect()(0).getLong(0)
    val daq1 = (System.nanoTime() - taq1) / 1e9
    val taqN = System.nanoTime()
    val aqN = TextAnalysis.adaptiveQualityThresholds(docsForSrc(mult), "source",
      "text").agg(sum("n_kept")).collect()(0).getLong(0)
    val daqN = (System.nanoTime() - taqN) / 1e9
    println(f"adaptive-quality (${mult}x corpus): 1x=$aq1 kept ${daq1}%.2f s  " +
      f"${mult}x=$aqN kept ${daqN}%.2f s  time-growth=${daqN / daq1}%.1fx  " +
      f"kept-growth=${aqN.toDouble / aq1}%.1fx (expect exactly ${mult}x)")

    // BPE token counts at mult x corpus: the merges table is FIXED
    // (trained once on the 1x vocab — plain replication keeps the word
    // set identical) and encoding is per-distinct-word, so the total
    // must be EXACTLY mult x and invariant to input partitioning
    val wc1 = docsForSrc(1)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val bpeM = graft.api.Bpe.train(wc1, 200)
    def bpeSum(df: org.apache.spark.sql.DataFrame): Long =
      TextAnalysis.bpeTokenCounts(df, "doc_id", "text", bpeM)
        .agg(sum("n_bpe_tokens")).collect()(0).getLong(0)
    val tbp1 = System.nanoTime()
    val bp1tok = bpeSum(docsForSrc(1))
    val dbp1 = (System.nanoTime() - tbp1) / 1e9
    val tbpN = System.nanoTime()
    val bpNtok = bpeSum(docsForSrc(mult))
    val dbpN = (System.nanoTime() - tbpN) / 1e9
    val bpRep = bpeSum(docsForSrc(mult).repartition(7))
    println(f"bpe-tokens (${mult}x corpus): 1x=$bp1tok ${dbp1}%.2f s  " +
      f"${mult}x=$bpNtok ${dbpN}%.2f s  time-growth=${dbpN / dbp1}%.1fx  " +
      f"token-growth=${bpNtok.toDouble / bp1tok}%.1fx (expect exactly ${mult}x)  " +
      f"repartition-invariant=${bpRep == bpNtok}")

    // BPE encode-to-ids under the same fixed merges: one row per token,
    // ids invariant per word, so the id stream is exactly mult x rows
    val ten1 = System.nanoTime()
    val en1 = TextAnalysis.bpeEncode(docsForSrc(1), "doc_id", "text", bpeM).count()
    val den1 = (System.nanoTime() - ten1) / 1e9
    val tenN = System.nanoTime()
    val enN = TextAnalysis.bpeEncode(docsForSrc(mult), "doc_id", "text", bpeM).count()
    val denN = (System.nanoTime() - tenN) / 1e9
    println(f"bpe-encode (${mult}x corpus): 1x=$en1 ids ${den1}%.2f s  " +
      f"${mult}x=$enN ids ${denN}%.2f s  time-growth=${denN / den1}%.1fx  " +
      f"id-growth=${enN.toDouble / en1}%.1fx (expect exactly ${mult}x)")

    // packed token stream: a GLOBAL-order construct, so the per-sequence
    // digest rows (not just corpus-wide sums: a bug that permutes tokens
    // between sequences keeps the totals) must not depend on input
    // partitioning, and the token total is exactly mult x
    def packedDigest(df: org.apache.spark.sql.DataFrame)
        : (Long, Set[(Long, Long, Long, Long, Long, Long)]) = {
      val rows = graft.api.Packing.packTokenStream(df, "doc_id", "text",
          bpeM, seqLen = 128)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      (rows.toSeq.map(_._2).sum, rows)
    }
    val tps1 = System.nanoTime()
    val (pt1, _) = packedDigest(docsForSrc(1))
    val dps1 = (System.nanoTime() - tps1) / 1e9
    val tpsN = System.nanoTime()
    val (ptN, pkN) = packedDigest(docsForSrc(mult))
    val dpsN = (System.nanoTime() - tpsN) / 1e9
    val (_, pkR) = packedDigest(docsForSrc(mult).repartition(7))
    println(f"pack-token-stream (${mult}x corpus): 1x=$pt1 toks ${dps1}%.2f s  " +
      f"${mult}x=$ptN toks ${dpsN}%.2f s  time-growth=${dpsN / dps1}%.1fx  " +
      f"tok-growth=${ptN.toDouble / pt1}%.1fx (expect exactly ${mult}x)  " +
      f"repartition-invariant=${pkR == pkN}")

    // BPE trainer driver cap: the collect feeding Bpe.train is bounded
    // by a top-V TakeOrdered even as the corpus vocabulary grows mult x
    // (each replica renames every word, so distinct words here are
    // exactly mult x the 1x vocab). Probe with a cap SMALLER than the
    // mult x vocabulary so the bound visibly binds — the shape of
    // ops/Pipeline.bpeMerges' capped collect, whose BpeVocabCap plays
    // the role of capProbe.
    locally {
      // docsFor (NOT docsForSrc): the per-replica word renaming is what
      // grows the distinct vocabulary mult x past the probe cap
      val vocabN = docsFor(mult)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").count()
      val vTotal = vocabN.count()
      val capProbe = 50
      val collected = vocabN.orderBy(col("count").desc, col("word"))
        .limit(capProbe).collect()
      println(f"bpe-trainer cap (${mult}x corpus): distinct words=$vTotal " +
        f"(1x vocab x $mult), driver rows=${collected.length} " +
        f"(cap=$capProbe) bounded=${collected.length <= capProbe}")
      require(collected.length <= capProbe,
        "bpe trainer cap failed to bound the driver collect")
      // the vocab-exceeds-cap half of the claim only holds once
      // replication actually multiplies the word set (mult=1 is a
      // valid smoke-test shape for every probe section)
      require(mult == 1 || vTotal > capProbe,
        s"probe corpus vocabulary ($vTotal) never exceeded the cap — " +
          "the bound was not actually exercised")
    }

    // audio energy windows at mult x corpus: pure mapPartitions over
    // the payload bytes — zero shuffle, window count exactly mult x
    val tae1 = System.nanoTime()
    val ae1 = graft.multimodal.Multimodal.audioEnergyFromText(spark,
      docsFor(1), "doc_id", "text", windowFrames = 256).count()
    val dae1 = (System.nanoTime() - tae1) / 1e9
    val taeN = System.nanoTime()
    val aeN = graft.multimodal.Multimodal.audioEnergyFromText(spark,
      docs, "doc_id", "text", windowFrames = 256).count()
    val daeN = (System.nanoTime() - taeN) / 1e9
    println(f"audio-energy (${mult}x corpus): 1x=$ae1 windows ${dae1}%.2f s  " +
      f"${mult}x=$aeN windows ${daeN}%.2f s  time-growth=${daeN / dae1}%.1fx")

    // funnel at mult x events: one user_id shuffle + bounded per-user
    // folds — linear in the event stream
    import graft.api.Funnels
    // events.ts physical type varies by testdata generation — load
    // through the same normalizing shim as every other consumer
    val ev0 = graft.ops.H.t(spark, dir, "events")
    def evFor(m: Int) = ev0.crossJoin(spark.range(m).select(col("id").as("rep")))
      .select((col("user_id") + col("rep") * lit(10000000L)).as("user_id"),
        col("ts"), col("event_type"))
    val tf1 = System.nanoTime()
    val fu1 = Funnels.funnelCounts(evFor(1), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), 3600000000L).count()
    val df1 = (System.nanoTime() - tf1) / 1e9
    val tfN = System.nanoTime()
    val fuN = Funnels.funnelCounts(evFor(mult), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), 3600000000L).count()
    val dfN = (System.nanoTime() - tfN) / 1e9
    println(f"funnel (${mult}x events): 1x=$fu1 stages ${df1}%.2f s  " +
      f"${mult}x=$fuN stages ${dfN}%.2f s  time-growth=${dfN / df1}%.1fx")

    // integral-key fast path (round 7): BIGINT user ids shuffle as raw
    // 8-byte longs through the fold; the same events with a STRING cast
    // user id take the string path — the shuffle-byte delta is the cost
    // a stringly-keyed pipeline pays at scale
    val sfk0 = shufSnap()
    val tfi = System.nanoTime()
    Funnels.funnelCounts(evFor(mult), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), 3600000000L).count()
    val dfi = (System.nanoTime() - tfi) / 1e9
    val sfk1 = shufSnap()
    val tfs = System.nanoTime()
    Funnels.funnelCounts(
      evFor(mult).withColumn("user_id", col("user_id").cast("string")),
      "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), 3600000000L).count()
    val dfs = (System.nanoTime() - tfs) / 1e9
    val sfk2 = shufSnap()
    println(f"funnel key path (${mult}x): BIGINT ${dfi}%.2f s " +
      f"${(sfk1 - sfk0) / 1e6}%.1f MB shuffled  vs STRING ${dfs}%.2f s " +
      f"${(sfk2 - sfk1) / 1e6}%.1f MB  " +
      f"(string/long shuffle ratio ${(sfk2 - sfk1).toDouble / (sfk1 - sfk0)}%.2fx)")

    // count-min sketch at mult x corpus: the sketch is depth x width
    // rows NO MATTER the corpus size — the probe pins that invariant
    // (the thing you persist/broadcast stays tiny) while the build wall
    // tracks the token stream ~linearly
    import graft.api.Sketches
    val tcm1 = System.nanoTime()
    val skRows1 = Sketches.cmsSketch(docsFor(1), "text").count()
    val dcm1 = (System.nanoTime() - tcm1) / 1e9
    val tcmN = System.nanoTime()
    val skRowsN = Sketches.cmsSketch(docs, "text").count()
    val dcmN = (System.nanoTime() - tcmN) / 1e9
    println(f"cms sketch (4x256, ${mult}x corpus): 1x=$skRows1 rows ${dcm1}%.2f s  " +
      f"${mult}x=$skRowsN rows ${dcmN}%.2f s  time-growth=${dcmN / dcm1}%.1fx " +
      f"sketch-rows-invariant=${skRowsN <= 4 * 256}")

    // keep-best dedup at mult x: pair gen is the inverted index probed
    // above; clustering is flat; the keep-best window runs over the
    // CLUSTER MEMBER set only (tiny vs corpus), so wall must track
    // pairs, never corpus x corpus
    val docsScored1 = docsFor(1).withColumn("score", length(col("text")))
    val docsScoredN = docs.withColumn("score", length(col("text")))
    val tkb1 = System.nanoTime()
    val kb1 = Dedup.keepBestPerCluster(docsScored1, "doc_id",
      Dedup.duplicateClusters(Dedup.nearDuplicatePairs(sh1, 0.5)),
      "score").count()
    val dkb1 = (System.nanoTime() - tkb1) / 1e9
    val tkbN = System.nanoTime()
    val kbN = Dedup.keepBestPerCluster(docsScoredN, "doc_id",
      Dedup.duplicateClusters(Dedup.nearDuplicatePairs(shN, 0.5)),
      "score").count()
    val dkbN = (System.nanoTime() - tkbN) / 1e9
    println(f"keep-best dedup (${mult}x corpus): 1x=$kb1 kept ${dkb1}%.2f s  " +
      f"${mult}x=$kbN kept ${dkbN}%.2f s  time-growth=${dkbN / dkb1}%.1fx " +
      f"survivor-growth=${kbN.toDouble / kb1}%.1fx")

    // retention at mult x events: the (user, week) DISTINCT pass bounds
    // everything downstream by active user-weeks — growth must track
    // users, and the cohort matrix stays cohort-weeks x offsets small
    val tr1 = System.nanoTime()
    val rt1 = Funnels.retentionCohorts(evFor(1), "user_id", "ts").count()
    val dr1 = (System.nanoTime() - tr1) / 1e9
    val trN = System.nanoTime()
    val rtN = Funnels.retentionCohorts(evFor(mult), "user_id", "ts").count()
    val drN = (System.nanoTime() - trN) / 1e9
    println(f"retention (${mult}x events): 1x=$rt1 cells ${dr1}%.2f s  " +
      f"${mult}x=$rtN cells ${drN}%.2f s  time-growth=${drN / dr1}%.1fx")

    // funnel POWER-USER skew: every replicated event lands on ONE user
    // — the collect_list formulation this fold replaced would buffer the
    // whole stream in a single task; the secondary-sort fold streams it
    // (completes with flat task memory, wall ~linear in events)
    val evSkew = ev0.crossJoin(spark.range(mult))
      .select(lit(777L).as("user_id"), col("ts"), col("event_type"))
    val tps = System.nanoTime()
    val psRows = Funnels.funnelStages(evSkew, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), 3600000000L).count()
    val dps = (System.nanoTime() - tps) / 1e9
    println(f"funnel power-user (${mult}x events, ONE user): " +
      f"$psRows row ${dps}%.2f s (streamed fold, no per-user array)")

    // deterministic split at mult x: knuth-hash predicate is pure
    // map-side — the only shuffle is the 3-row split count
    import graft.api.Mixing
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val ssp0 = shufSnap()
    val tssp1 = System.nanoTime()
    val spl1 = Mixing.assignSplit(docsFor(1), "doc_id", splits)
      .groupBy("split").count().count()
    val dssp1 = (System.nanoTime() - tssp1) / 1e9
    val ssp1 = shufSnap()
    val tspN = System.nanoTime()
    val splN = Mixing.assignSplit(docs, "doc_id", splits)
      .groupBy("split").count().count()
    val dspN = (System.nanoTime() - tspN) / 1e9
    val ssp2 = shufSnap()
    println(f"split assign (${mult}x corpus): 1x=$spl1 splits ${dssp1}%.2f s " +
      f"(${(ssp1 - ssp0) / 1e6}%.1f MB shuffled)  ${mult}x=$splN splits ${dspN}%.2f s " +
      f"(${(ssp2 - ssp1) / 1e6}%.1f MB)  time-growth=${dspN / dssp1}%.1fx")

    // PMI collocations at mult x: two partial-agg token scans. The
    // word renaming multiplies bigram KINDS by mult (each replica's
    // (a,b) becomes a distinct (azzR, bzzR) keeping its 1x count), so
    // the aggregated bigram table grows mult x while per-bigram counts
    // stay flat — wall tracks the token stream plus the mult x-larger
    // hash-agg keyspace, never corpus²
    val tpm1 = System.nanoTime()
    val pm1 = TextAnalysis.pmiBigrams(docsFor(1), "text",
      minCount = 5, k = 100).count()
    val dpm1 = (System.nanoTime() - tpm1) / 1e9
    val tpmN = System.nanoTime()
    val pmN = TextAnalysis.pmiBigrams(docs, "text",
      minCount = 5, k = 100).count()
    val dpmN = (System.nanoTime() - tpmN) / 1e9
    println(f"pmi collocations (${mult}x corpus): 1x=$pm1 rows ${dpm1}%.2f s  " +
      f"${mult}x=$pmN rows ${dpmN}%.2f s  time-growth=${dpmN / dpm1}%.1fx")

    // round-7 curation operators. repetition metrics: two hash aggs
    // over the exploded gram stream — linear; shared segments:
    // inverted-index volume (replica grams are disjoint, so the df>=2
    // set and per-doc coverage replicate the 1x structure exactly);
    // length percentiles: replication leaves each source's value
    // DISTRIBUTION intact, so p50/p90/p99 must be invariant
    // ppm-sum rather than count(): a bare count lets Catalyst ELIMINATE
    // the unique-key left joins (and the whole n-gram aggregation)
    def forceRep(d: org.apache.spark.sql.DataFrame): Long = TextAnalysis
      .repetitionMetrics(d, "doc_id", "text")
      .agg(sum(col("dup_word_ppm") + col("top2_ppm") + col("top3_ppm"))
        .cast("long")).collect()(0).getLong(0)
    val trm1 = System.nanoTime()
    val rm1 = forceRep(docsFor(1))
    val drm1 = (System.nanoTime() - trm1) / 1e9
    val trmN = System.nanoTime()
    val rmN = forceRep(docs)
    val drmN = (System.nanoTime() - trmN) / 1e9
    println(f"repetition metrics (${mult}x corpus): 1x ppm-sum=$rm1 ${drm1}%.2f s  " +
      f"${mult}x ppm-sum=$rmN ${drmN}%.2f s  time-growth=${drmN / drm1}%.1fx  " +
      f"ppm-sum-growth=${rmN.toDouble / rm1}%.1fx")

    val tsg1 = System.nanoTime()
    val sg1 = Dedup.sharedSegmentCoverage(docsFor(1), "doc_id", "text").count()
    val dsg1 = (System.nanoTime() - tsg1) / 1e9
    val tsgN = System.nanoTime()
    val sgN = Dedup.sharedSegmentCoverage(docs, "doc_id", "text").count()
    val dsgN = (System.nanoTime() - tsgN) / 1e9
    println(f"shared segments (${mult}x corpus): 1x=$sg1 docs ${dsg1}%.2f s  " +
      f"${mult}x=$sgN docs ${dsgN}%.2f s  time-growth=${dsgN / dsg1}%.1fx " +
      f"covered-doc-growth=${sgN.toDouble / sg1}%.1fx")

    def docsFullFor(m: Int) = docs0
      .crossJoin(spark.range(m).select(col("id").as("rep")))
      .select((col("doc_id") + col("rep") * lit(1000000)).as("doc_id"),
        col("source"), col("n_chars"))
    val tlp1 = System.nanoTime()
    val lp1 = TextAnalysis.lengthPercentiles(docsFullFor(1), "source", "n_chars")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val dlp1 = (System.nanoTime() - tlp1) / 1e9
    val tlpN = System.nanoTime()
    val lpN = TextAnalysis.lengthPercentiles(docsFullFor(mult), "source", "n_chars")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val dlpN = (System.nanoTime() - tlpN) / 1e9
    println(f"length percentiles (${mult}x corpus): 1x ${dlp1}%.2f s  " +
      f"${mult}x ${dlpN}%.2f s  time-growth=${dlpN / dlp1}%.1fx  " +
      f"percentiles-invariant=${lp1.toSeq == lpN.toSeq}")

    // token-budget sampling: the two-phase prefix (slice windows +
    // driver offsets) must keep the IDENTICAL document set as the
    // single-window-per-source shape it replaces, while engaging many
    // hash slices per source (= that many parallel sort tasks where the
    // old window owned the whole source in one)
    {
      import org.apache.spark.sql.expressions.Window
      import graft.api.Mixing
      val tbDocs = docsFullFor(mult)
      val tbBudgets = Map("src0" -> 200000L, "src1" -> 80000L)
      def keptCk(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = d.agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id))")).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val ttb = System.nanoTime()
      val (tbN, tbCk) = keptCk(Mixing.tokenBudgetSample(
        tbDocs, "doc_id", "source", "n_chars", tbBudgets))
      val dtb = (System.nanoTime() - ttb) / 1e9
      val refBudget = when(col("source") === "src0", 200000L)
        .when(col("source") === "src1", 80000L).otherwise(Long.MaxValue)
      val ref = tbDocs.withColumn("__cum",
          sum(col("n_chars").cast("long")).over(
            Window.partitionBy("source")
              .orderBy(Mixing.knuthHash(col("doc_id")), col("doc_id"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("__cum") <= refBudget).drop("__cum")
      val (refN, refCk) = keptCk(ref)
      // slice = h div 2^26 (64 slices over the 2^32 hash domain), the
      // same fixed thresholds tokenBudgetSample cuts on
      val nSl = tbDocs.filter(col("source") === "src0")
        .select(shiftright(Mixing.knuthHash(col("doc_id")), 26).as("sl"))
        .distinct().count()
      println(f"token budget (${mult}x corpus): kept=$tbN ${dtb}%.2f s  " +
        f"slices-engaged=$nSl  " +
        f"identical-to-single-window=${(tbN, tbCk) == (refN, refCk)}")
    }

    // perplexity with a 10x LARGER vocab cap: model rows scale with V
    // (TakeOrdered broadcast), not the corpus — the wall should move
    // modestly vs the V=1000 run above, and stay linear in the corpus
    val tpv1 = System.nanoTime()
    val pv1 = TextAnalysis.perplexityScore(docsFor(1), "doc_id", "text",
      vocabSize = 10000).count()
    val dpv1 = (System.nanoTime() - tpv1) / 1e9
    val tpvN = System.nanoTime()
    val pvN = TextAnalysis.perplexityScore(docs, "doc_id", "text",
      vocabSize = 10000).count()
    val dpvN = (System.nanoTime() - tpvN) / 1e9
    println(f"perplexity (V=10000, ${mult}x corpus): 1x=$pv1 docs ${dpv1}%.2f s  " +
      f"${mult}x=$pvN docs ${dpvN}%.2f s  time-growth=${dpvN / dpv1}%.1fx")

    // paragraph dedup at mult x corpus: replica word-renaming keeps each
    // replica's segment space disjoint, so removed-segment mass must be
    // EXACTLY mult x the 1x mass (keepers never cross replicas) and the
    // wall ~linear — one segment-hash exchange with map-side partial
    // min, no corpus window
    val tpd1 = System.nanoTime()
    val pd1 = Dedup.dropDuplicateParagraphs(docsFor(1), "doc_id", "text",
      segTokens = 15).agg(sum("n_removed")).collect()(0).getLong(0)
    val dpd1 = (System.nanoTime() - tpd1) / 1e9
    val tpdN = System.nanoTime()
    val pdN = Dedup.dropDuplicateParagraphs(docs, "doc_id", "text",
      segTokens = 15).agg(sum("n_removed")).collect()(0).getLong(0)
    val dpdN = (System.nanoTime() - tpdN) / 1e9
    println(f"paragraph-dedup (${mult}x corpus): 1x=$pd1 segs cut ${dpd1}%.2f s  " +
      f"${mult}x=$pdN segs cut ${dpdN}%.2f s  time-growth=${dpdN / dpd1}%.1fx  " +
      f"cut-growth=${pdN.toDouble / pd1}%.1fx (expect exactly ${mult}x)")

    // incremental paragraph dedup at mult x: the corpus collapses to
    // its distinct segment-hash set and the increment pays one
    // co-partitioned anti-join — removed mass exactly mult x (disjoint
    // replicas), wall rides the index build + increment, never a
    // corpus-window (production attaches the PERSISTED index instead
    // of re-hashing — the build term here is the save-side cost)
    {
      def halves(m: Int) = {
        val d = docsFor(m)
        (d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0))
      }
      val (c1, i1) = halves(1)
      val tpi1 = System.nanoTime()
      val pi1 = Dedup.incrementalParagraphDedup(c1, i1, "doc_id", "text", 15)
        .agg(sum("n_removed")).collect()(0).getLong(0)
      val dpi1 = (System.nanoTime() - tpi1) / 1e9
      val (cN, iN) = halves(mult)
      val tpiN = System.nanoTime()
      val piN = Dedup.incrementalParagraphDedup(cN, iN, "doc_id", "text", 15)
        .agg(sum("n_removed")).collect()(0).getLong(0)
      val dpiN = (System.nanoTime() - tpiN) / 1e9
      println(f"paragraph-incr (${mult}x corpus): 1x=$pi1 segs cut ${dpi1}%.2f s  " +
        f"${mult}x=$piN cut ${dpiN}%.2f s  time-growth=${dpiN / dpi1}%.1fx  " +
        f"cut-growth=${piN.toDouble / pi1}%.1fx (expect exactly ${mult}x)")
    }

    // seeded shuffle order at mult x ids: the two-phase hash-slice rank
    // must yield a TRUE permutation (n distinct positions, max = n-1)
    // at every scale, with slices balanced (the hash is uniform) — the
    // property a corpus-wide total order must prove without any task
    // owning the global sort
    {
      import graft.api.Packing
      val n = n0 * mult
      val tso = System.nanoTime()
      val so = Packing.shuffleOrder(
        spark.range(n).select(col("id").as("seq_id")), "seq_id", seed = 7L)
      val r = so.agg(count(lit(1)), countDistinct(col("shuffle_pos")),
        max(col("shuffle_pos"))).collect()(0)
      val dso = (System.nanoTime() - tso) / 1e9
      println(f"shuffle-order (${mult}x ids): n=${r.getLong(0)} " +
        f"distinct-pos=${r.getLong(1)} max-pos=${r.getLong(2)} ${dso}%.2f s  " +
        f"permutation=${r.getLong(0) == r.getLong(1) &&
          r.getLong(2) == r.getLong(0) - 1}")
    }
    // split-leakage audit at mult x corpus: pairs replicate disjointly
    // (word-renamed replicas never pair across replicas) and the split
    // assignment keys on the ORIGINAL id (invariant under the id
    // offset), so each replica reproduces the 1x crossing structure
    // exactly — leaked pairs EXACTLY mult x, with the audit itself two
    // broadcast-sized id joins (pair set vs assignment), never a
    // corpus-side shuffle. A CLUSTER-group-aware split (each doc keyed
    // by its duplicate-cluster representative) must audit to exactly
    // ZERO at every scale — the guarantee the group-aware splitter
    // exists to give.
    {
      import graft.api.Mixing
      val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      def leakFor(m: Int): (Long, Long, Double) = {
        val d = docsFor(m)
        val pairs = Dedup.nearDuplicatePairs(
          Dedup.shingles(d, "doc_id", "text"), 0.5).persist()
        pairs.count()
        val t0 = System.nanoTime()
        val assigned = Mixing.assignSplit(
            d.withColumn("orig_id", col("doc_id") % 1000000L), "orig_id",
            splits)
          .select(col("doc_id"), col("split"))
        val leaked = Option(Mixing.splitLeakage(pairs, assigned, "doc_id")
          .agg(sum("n_leaked")).collect()(0).get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        // group = duplicate-cluster representative (docs outside any
        // cluster are their own group): pair members always share a
        // group, so the group-aware assignment cannot leak
        val clusters = Dedup.duplicateClusters(pairs)
        val grouped = d.join(clusters.select(col("doc_id"), col("cluster")),
            Seq("doc_id"), "left")
          .withColumn("grp",
            coalesce(col("cluster"), col("doc_id")).cast("string"))
        val gAssigned = Mixing.groupAwareSplit(grouped, "grp", splits)
          .select(col("doc_id"), col("split"))
        val gLeaked = Option(Mixing.splitLeakage(pairs, gAssigned, "doc_id")
          .agg(sum("n_leaked")).collect()(0).get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val dt = (System.nanoTime() - t0) / 1e9
        pairs.unpersist()
        require(gLeaked == 0L,
          s"cluster-group-aware split leaked $gLeaked pairs at ${m}x")
        (leaked, gLeaked, dt)
      }
      val (l1, _, dl1) = leakFor(1)
      val (lN, _, dlN) = leakFor(mult)
      require(lN == l1 * mult,
        s"row-split leakage must be exactly ${mult}x under disjoint " +
          s"replication: 1x=$l1 ${mult}x=$lN")
      println(f"split-leakage (${mult}x corpus): row-split 1x=$l1 " +
        f"${mult}x=$lN leaked (exactly ${mult}x)  cluster-group-aware=0 " +
        f"at both scales  1x ${dl1}%.2f s  ${mult}x ${dlN}%.2f s  " +
        f"time-growth=${dlN / dl1}%.1fx")
    }

    // corpus report at mult x corpus: replication preserves source/lang
    // (word-suffixed text keeps replicas pair-disjoint), so the report
    // must hold one row PER SOURCE no matter the corpus size — driver
    // rows invariant — with every mass column (docs, tokens, chars,
    // dup-docs) EXACTLY mult x and n_langs invariant. One corpus
    // aggregation + a broadcast-sized join against the dup-id set.
    {
      def reportFor(m: Int) = {
        val d = docs0.crossJoin(spark.range(m).select(col("id").as("rep")))
          .select((col("doc_id") + col("rep") * lit(1000000)).as("doc_id"),
            expr("array_join(transform(split(text, ' '), " +
              "w -> concat(w, 'zz', CAST(rep AS STRING))), ' ')").as("text"),
            col("source"), col("lang"), col("n_chars"))
        val t0 = System.nanoTime()
        val pr = Dedup.nearDuplicatePairs(
          Dedup.shingles(d, "doc_id", "text"), 0.5)
        val dup = pr.select(col("doc_a").as("doc_id"))
          .union(pr.select(col("doc_b").as("doc_id"))).distinct()
        val base = d.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
        val dups = d.join(dup, "doc_id").groupBy("source")
          .agg(count(lit(1)).as("n_dup_docs"))
        val rows = base.join(dups, Seq("source"), "left")
          .na.fill(0L, Seq("n_dup_docs")).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5)))
          .toMap
        (rows, (System.nanoTime() - t0) / 1e9)
      }
      val (r1, dr1) = reportFor(1)
      val (rN, drN) = reportFor(mult)
      require(rN.keySet == r1.keySet,
        s"report rows must stay one-per-source: 1x=${r1.size} ${mult}x=${rN.size}")
      for ((src, (nd, nt, sc, nl, ndup)) <- r1) {
        val (ndN, ntN, scN, nlN, ndupN) = rN(src)
        require(ndN == nd * mult && ntN == nt * mult && scN == sc * mult &&
            ndupN == ndup * mult && nlN == nl,
          s"per-source masses must scale exactly ${mult}x " +
            s"(langs invariant) for $src")
      }
      println(f"corpus-report (${mult}x corpus): ${r1.size} source rows at " +
        f"both scales (driver rows invariant); docs/tokens/chars/dup-docs " +
        f"all exactly ${mult}x, n_langs invariant  1x ${dr1}%.2f s  " +
        f"${mult}x ${drN}%.2f s  time-growth=${drN / dr1}%.1fx")
    }

    // TxTable at mult x corpus: the LOG shape is data-size-invariant —
    // the same overwrite/append/compact sequence produces the same
    // commit count and versions no matter the corpus size (metadata
    // scales with COMMITS, never rows), while the snapshot row count
    // scales exactly mult x. Head resolution stays checkpoint+tail by
    // construction (TxTableSpec pins it by deleting the pre-checkpoint
    // log); here the probe pins that log records stay O(commits) bytes:
    // per-commit record size is flat across scales.
    {
      import graft.api.TxTable
      def txFor(m: Int): (Long, Long, Long, Double) = {
        val d = docsFor(m)
        val base = java.nio.file.Files
          .createTempDirectory(s"txprobe$m").toString + "/t"
        val t0 = System.nanoTime()
        TxTable.overwrite(spark, base, d.filter(col("doc_id") % 2 === 0))
        TxTable.append(spark, base, d.filter(col("doc_id") % 2 =!= 0))
        TxTable.compact(spark, base, numFiles = 4)
        val rows = TxTable.read(spark, base).count()
        val commits = TxTable.history(spark, base)
        val recBytes = new java.io.File(s"$base/_txlog").listFiles()
          .filter(_.getName.endsWith(".json")).map(_.length()).max
        (rows, commits.size.toLong, recBytes,
          (System.nanoTime() - t0) / 1e9)
      }
      val (rows1, c1, b1, t1) = txFor(1)
      val (rowsN, cN, bN, tN) = txFor(mult)
      require(rowsN == rows1 * mult,
        s"tx snapshot rows must scale exactly ${mult}x: $rows1 -> $rowsN")
      require(cN == c1, s"commit count must be data-size-invariant: $c1 vs $cN")
      require(bN <= b1 * 4, // flat modulo a few extra part-file names
        s"per-commit record bytes must stay O(files), not O(rows): $b1 -> $bN")
      println(f"tx-table (${mult}x corpus): rows exactly ${mult}x " +
        f"($rows1 -> $rowsN), $c1 commits at both scales (log is " +
        f"data-size-invariant), max record $b1 -> $bN bytes  " +
        f"1x $t1%.2f s  ${mult}x $tN%.2f s  time-growth=${tN / t1}%.1fx")
    }

    // PageRank at mult x graph: disjoint id-offset replicas of the
    // customer→supplier edge set. Because the replicas are disconnected
    // components and the rank recurrence is integer-exact, every
    // replica's ranks must be BIT-IDENTICAL to the 1x graph's under the
    // id shift — not approximately equal, equal. Any fp drift,
    // cross-replica contamination, or degree miscount breaks it.
    {
      import graft.api.Graphs
      val raw0 = spark.read.parquet(s"$dir/orders.parquet")
        .join(spark.read.parquet(s"$dir/lineitem.parquet"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      val off = 10000000L // > any 1x vertex id
      def rankFor(m: Int) = {
        val raw = raw0.crossJoin(spark.range(m).select(col("id").as("rep")))
          .select((col("src") + col("rep") * off).as("src"),
            (col("dst") + col("rep") * off).as("dst"))
        val t0 = System.nanoTime()
        val r = Graphs.pageRankFixedPoint(
          Graphs.edgesWithOutDegree(raw, "src", "dst"),
          Graphs.nodes(raw, "src", "dst"), iterations = 3)
          .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val (r1, d1) = rankFor(1)
      val (rN, dN) = rankFor(mult)
      require(rN.size == r1.size * mult,
        s"node count must scale exactly ${mult}x: ${r1.size} -> ${rN.size}")
      require(rN.forall { case (id, rk) => r1(id % off) == rk },
        "per-replica ranks must be bit-identical to the 1x graph's " +
          "(disjoint components + integer arithmetic)")
      println(f"pagerank (${mult}x graph): ${r1.size} -> ${rN.size} nodes " +
        f"(exactly ${mult}x), every replica's ranks BIT-IDENTICAL to 1x  " +
        f"1x $d1%.2f s  ${mult}x $dN%.2f s  time-growth=${dN / d1}%.1fx")
    }

    // Fuzzy join at mult x names: each replica prefixes its names with a
    // DOUBLED 3-digit replica marker ("001001…"), so any two replicas'
    // strings differ in ≥2 positions (equal lengths ⇒ edit distance ≥2)
    // — cross-replica pairs are impossible by construction and the pair
    // count must scale exactly mult x. Growth is the blocked path's:
    // variant rows scale linearly, never the quadratic candidate space.
    {
      import graft.api.FuzzyJoin
      val names0 = spark.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_custkey") % 4 === 0).select(col("c_name"))
      def pairsFor(m: Int) = {
        val d = names0.crossJoin(spark.range(m).select(col("id").as("rep")))
          .select(concat(format_string("%03d%03d", col("rep"), col("rep")),
            col("c_name")).as("w"))
        val t0 = System.nanoTime()
        val n = FuzzyJoin.edSelfJoin(d, "w").count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val (p1, dp1) = pairsFor(1)
      val (pN, dpN) = pairsFor(mult)
      require(pN == p1 * mult,
        s"fuzzy pairs must scale exactly ${mult}x under disjoint " +
          s"replication: 1x=$p1 ${mult}x=$pN")
      println(f"fuzzy-join (${mult}x names): $p1 -> $pN pairs (exactly " +
        f"${mult}x, zero cross-replica)  1x $dp1%.2f s  ${mult}x $dpN%.2f s  " +
        f"time-growth=${dpN / dp1}%.1fx")
    }

    // FuzzyJoin k=2 (PassJoin segments) at mult x names. The replica
    // prefix triples EACH DIGIT of the 3-digit rep id ("012" ->
    // "000111222"): two distinct ids differ in >= 1 digit, and turning
    // one tripled digit-run into another costs >= 3 edits under ANY
    // alignment, so every cross-replica pair sits at edit distance
    // >= 3 > k and replicas are disjoint. (Repeating the WHOLE id —
    // "%03d%03d%03d" — is NOT enough: rep 1 "001001001" and rep 10
    // "010010010" are cyclic shifts at edit distance 2 <= k, so the
    // probe would miscount from mult >= 11.) The pair count must then
    // scale exactly mult x; growth is the blocked path's:
    // segment/probe rows scale linearly, candidates with collision
    // mass, never the quadratic pair space.
    {
      import graft.api.FuzzyJoin
      val names0 = spark.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_custkey") % 16 === 0).select(col("c_name"))
      def repsFor(m: Int) =
        names0.crossJoin(spark.range(m).select(col("id").as("rep")))
          .select(concat(regexp_replace(format_string("%03d", col("rep")),
            "(.)", "$1$1$1"), col("c_name")).as("w"))
      def pairsFor(m: Int) = {
        val s0 = shufSnap()
        val t0 = System.nanoTime()
        val n = FuzzyJoin.edSelfJoin(repsFor(m), "w", maxDist = 2).count()
        val dt = (System.nanoTime() - t0) / 1e9
        (n, dt, shufSnap() - s0)
      }
      // Candidate attribution: raw segment-blocking candidates vs the
      // char-frequency-filtered set actually paid into the distinct +
      // verify. The unfiltered count is the r14 blowup (grows with the
      // SQUARE of the low-entropy colliding subset); the filtered count
      // is what production shuffles.
      def candFor(m: Int, filt: Boolean) =
        FuzzyJoin.passJoinCandidates(
          FuzzyJoin.distinctKeys(repsFor(m), "w"), 2, sigFilter = filt).count()
      val (p1, dp1, sb1) = pairsFor(1)
      val (pN, dpN, sbN) = pairsFor(mult)
      require(pN == p1 * mult,
        s"fuzzy-k2 pairs must scale exactly ${mult}x under disjoint " +
          s"replication: 1x=$p1 ${mult}x=$pN")
      val (c1raw, cNraw) = (candFor(1, filt = false), candFor(mult, filt = false))
      val (c1f, cNf) = (candFor(1, filt = true), candFor(mult, filt = true))
      require(c1f <= c1raw && cNf <= cNraw,
        "signature filter can only shrink the candidate set")
      println(f"fuzzy-join k=2 (${mult}x names): $p1 -> $pN pairs (exactly " +
        f"${mult}x, zero cross-replica)  1x $dp1%.2f s  ${mult}x $dpN%.2f s  " +
        f"time-growth=${dpN / dp1}%.1fx  shuffle ${sb1 / 1e6}%.1f -> " +
        f"${sbN / 1e6}%.1f MB (${sbN.toDouble / math.max(1, sb1)}%.1fx)  " +
        f"candidates raw $c1raw -> $cNraw " +
        f"(${cNraw.toDouble / c1raw}%.1fx) filtered $c1f -> $cNf " +
        f"(${cNf.toDouble / c1f}%.1fx)")
    }

    // SCD2 + rolling anomalies at mult x events: user-id-offset replicas
    // are independent histories, so version rows, open (is_current)
    // versions, and flagged outliers must each scale exactly mult x —
    // the windows are per-user and integer-exact, so replication cannot
    // smear state across replicas or move a flag.
    {
      import graft.api.Cdc
      val ev0 = graft.ops.H.t(spark, dir, "events")
        .filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts", "value")
      def cdcFor(m: Int) = {
        val d = ev0.crossJoin(spark.range(m).select(col("id").as("rep")))
          .select((col("user_id") + col("rep") * 10000000L).as("user_id"),
            (col("event_id") + col("rep") * 1000000000L).as("event_id"),
            col("ts"), col("value"))
        val t0 = System.nanoTime()
        val s = Cdc.scd2(d, "user_id", "ts", "event_id", "value")
        val versions = s.count()
        val current = s.filter(col("is_current")).count()
        val flagged = Cdc.rollingAnomalies(d, "user_id", "ts", "event_id", "value")
          .filter(col("is_outlier")).count()
        (versions, current, flagged, (System.nanoTime() - t0) / 1e9)
      }
      val (v1, c1, f1, dc1) = cdcFor(1)
      val (vN, cN, fN, dcN) = cdcFor(mult)
      require(vN == v1 * mult && cN == c1 * mult && fN == f1 * mult,
        s"scd2/anomaly masses must scale exactly ${mult}x: " +
          s"versions $v1->$vN current $c1->$cN flagged $f1->$fN")
      println(f"scd2+anomaly (${mult}x events): versions $v1 -> $vN, open " +
        f"$c1 -> $cN, flagged $f1 -> $fN (each exactly ${mult}x)  " +
        f"1x $dc1%.2f s  ${mult}x $dcN%.2f s  time-growth=${dcN / dc1}%.1fx")
    }

    // Triangles at mult x graph: disjoint id-offset replicas of the
    // parts-bought-together edge set. Triangle COUNT must scale exactly
    // mult x (no cross-replica triangle can exist — replicas share no
    // vertex), and the id-mass invariant is exactly predictable under
    // the shift: each replica r adds 3·off·r per triangle, so
    // massN = mult·mass1 + 3·off·count1·(mult·(mult−1)/2). Equality is
    // exact integers — a single misidentified triangle breaks it.
    {
      import graft.api.Graphs
      val pe0 = spark.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_orderkey") % 10 === 0).as("l1")
        .join(spark.read.parquet(s"$dir/lineitem.parquet")
          .filter(col("l_orderkey") % 10 === 0).as("l2"),
          col("l1.l_orderkey") === col("l2.l_orderkey") &&
            col("l1.l_partkey") =!= col("l2.l_partkey"))
        .select(col("l1.l_partkey").as("pa"), col("l2.l_partkey").as("pb"))
      val off = 10000000L
      def triFor(m: Int): (Long, Long, Double) = {
        val e = pe0.crossJoin(spark.range(m).select(col("id").as("rep")))
          .select((col("pa") + col("rep") * off).as("pa"),
            (col("pb") + col("rep") * off).as("pb"))
        val t0 = System.nanoTime()
        val r = Graphs.triangleCount(e, "pa", "pb").head()
        (r.getLong(0), r.getLong(1), (System.nanoTime() - t0) / 1e9)
      }
      val (c1, m1, d1) = triFor(1)
      val (cN, mN, dN) = triFor(mult)
      require(cN == c1 * mult,
        s"triangle count must scale exactly ${mult}x: $c1 -> $cN")
      val expMass = mult * m1 + 3L * off * c1 * (mult.toLong * (mult - 1) / 2)
      require(mN == expMass,
        s"triangle id-mass must equal the shift-exact prediction: " +
          s"got $mN expected $expMass")
      println(f"triangles (${mult}x graph): $c1 -> $cN (exactly ${mult}x), " +
        f"id-mass shift-exact  1x $d1%.2f s  ${mult}x $dN%.2f s  " +
        f"time-growth=${dN / d1}%.1fx")
    }

    // BFS at mult x graph: disjoint id-offset replicas with the SAME
    // source set shifted into each replica. Levels are invariant (each
    // replica is an isomorphic copy), so the per-level node counts must
    // scale exactly mult x and the reached-node ids must be exactly the
    // 1x set under every shift — frontier expansion that leaked across
    // replicas or re-settled a node breaks it.
    {
      import graft.api.Graphs
      val raw0 = spark.read.parquet(s"$dir/orders.parquet")
        .join(spark.read.parquet(s"$dir/lineitem.parquet"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      val off = 10000000L
      def bfsFor(m: Int): (Map[Long, Long], Double) = {
        val e = raw0.crossJoin(spark.range(m).select(col("id").as("rep")))
          .select((col("src") + col("rep") * off).as("src"),
            (col("dst") + col("rep") * off).as("dst"))
        val srcs = spark.range(m).select(col("id").as("rep"))
          .crossJoin(spark.range(1, 4).select((col("id") * 2).as("base")))
          .select((col("base") + col("rep") * off).as("id"))
        val t0 = System.nanoTime()
        val lv = Graphs.bfsLevels(e, "src", "dst", srcs, maxDepth = 3)
          .groupBy("lvl").agg(count(lit(1)).as("n")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        (lv, (System.nanoTime() - t0) / 1e9)
      }
      val (lv1, d1) = bfsFor(1)
      val (lvN, dN) = bfsFor(mult)
      require(lvN.keySet == lv1.keySet,
        s"reached levels must be invariant: ${lv1.keySet} vs ${lvN.keySet}")
      require(lv1.forall { case (l, n) => lvN(l) == n * mult },
        s"per-level masses must scale exactly ${mult}x: $lv1 -> $lvN")
      println(f"bfs (${mult}x graph): levels ${lv1.keySet.toSeq.sorted
        .mkString(",")} invariant, per-level masses exactly ${mult}x  " +
        f"1x $d1%.2f s  ${mult}x $dN%.2f s  time-growth=${dN / d1}%.1fx")
    }

    // TxTable point/restore/CDF at mult x corpus: (a) the bloom
    // point-lookup prunes to the same few files at every scale (probed
    // ids live in ONE replica — the files-read count must stay flat
    // while the table grows mult x); (b) restore stays metadata-only
    // (zero new data dirs at any scale); (c) the row-level change feed
    // stays increment-proportional: an append window's feed is exactly
    // the appended rows (mult x), and a compact window contributes
    // ZERO rows at every scale.
    {
      import graft.api.TxTable
      def txFor(m: Int): (Long, Long, Long, Int, Int, Long, Long, Double) = {
        val d = docsFor(m).select(col("doc_id"),
          length(col("text")).cast("long").as("len"))
        val base = java.nio.file.Files
          .createTempDirectory(s"txprobe2_$m").toString
        val t0 = System.nanoTime()
        // point path: clustered by len, bloom-indexed on doc_id
        val pt = s"$base/p"
        TxTable.overwriteClustered(spark, pt, d, "len", numFiles = 8,
          bloomCol = Some("doc_id"))
        val total = TxTable.read(spark, pt).inputFiles.length
        val probed = TxTable.readPoints(spark, pt, "doc_id",
          Seq(1L, 7L, 57L))
        val probedFiles = probed.inputFiles.length
        val probedRows = probed.count()
        // restore + cdf path: v1 half, v2 append half, v3 compact,
        // v4 restore(1)
        val rt = s"$base/r"
        TxTable.overwrite(spark, rt, d.filter(col("doc_id") % 2 === 0))
        TxTable.append(spark, rt, d.filter(col("doc_id") % 2 =!= 0))
        TxTable.compact(spark, rt, numFiles = 4)
        def dataDirs() = new java.io.File(base, "r").listFiles()
          .count(f => f.isDirectory && f.getName.startsWith("data-"))
        val dirsBefore = dataDirs()
        TxTable.restore(spark, rt, 1)
        require(dataDirs() == dirsBefore,
          s"restore must stage no data at ${m}x: $dirsBefore -> ${dataDirs()}")
        val headRows = TxTable.read(spark, rt).count()
        val feedAppend = TxTable.changesRows(spark, rt, 1, 2).count()
        val feedCompact = TxTable.changesRows(spark, rt, 2, 3).count()
        (headRows, feedAppend, feedCompact, probedFiles, total,
          probedRows, TxTable.history(spark, rt).size.toLong,
          (System.nanoTime() - t0) / 1e9)
      }
      val (h1, fa1, fc1, pf1, tot1, pr1, cm1, t1) = txFor(1)
      val (hN, faN, fcN, pfN, totN, prN, cmN, tN) = txFor(mult)
      require(hN == h1 * mult,
        s"restored head rows must scale exactly ${mult}x: $h1 -> $hN")
      require(faN == fa1 * mult,
        s"append-window feed must be increment-proportional: $fa1 -> $faN")
      require(fc1 == 0 && fcN == 0,
        s"compact windows must feed zero rows: $fc1, $fcN")
      require(cm1 == cmN,
        s"commit count must be data-size-invariant: $cm1 vs $cmN")
      require(pr1 == 3 && prN == 3,
        s"probed ids live in replica 0 only: $pr1, $prN rows")
      // flat = O(probes) + FP slack, never O(table): 3 probed ids can
      // honestly touch up to 3 true files plus a false positive or two
      require(pf1 <= 5 && pfN <= 5 && pf1 < tot1 && pfN < totN,
        s"bloom pruning must stay flat while the table grows: " +
          s"$pf1/$tot1 -> $pfN/$totN files")
      println(f"tx point/restore/cdf (${mult}x corpus): restore " +
        f"metadata-only at both scales, head $h1 -> $hN rows (exactly " +
        f"${mult}x), append feed $fa1 -> $faN (exactly ${mult}x), compact " +
        f"feed 0 at both, bloom point-read $pf1/$tot1 -> $pfN/$totN files  " +
        f"1x $t1%.2f s  ${mult}x $tN%.2f s  time-growth=${tN / t1}%.1fx")
    }

    // TxTable round-15 features at mult x corpus: (a) DATE-typed
    // skipping — a fixed February window over a date-clustered table
    // must return exactly mult x the rows (per-replica-invariant date
    // derivation) while pruning files at BOTH scales; (b) STRING-typed
    // skipping — a range spanning exactly the 1x id span of a
    // string-clustered table must return an INVARIANT row count while
    // the table grows mult x, with the kept-file count DROPPING as the
    // span becomes a smaller fraction (O(result) reads, never
    // O(table)); (c) SCHEMA EVOLUTION — the widened head, its
    // null-filled old rows, and the pre-evolution time travel all
    // scale exactly, with the schema itself size-invariant.
    {
      import graft.api.TxTable
      def tx15For(m: Int) = {
        val d = docsFor(m).select(col("doc_id"),
          expr("date_add(DATE'2024-01-01', CAST((doc_id % 1000000) % 365 AS INT))").as("d"),
          expr("lpad(CAST(doc_id AS STRING), 12, '0')").as("k"),
          ((col("doc_id") % 1000000) * 3).as("q"))
        val base = java.nio.file.Files
          .createTempDirectory(s"txprobe15_$m").toString
        val t0 = System.nanoTime()
        val dt = s"$base/d"
        TxTable.overwriteClustered(spark, dt, d.select("doc_id", "d"),
          "d", numFiles = 8)
        val feb = TxTable.readRangeOf(spark, dt, "d",
          java.sql.Date.valueOf("2024-02-01"), java.sql.Date.valueOf("2024-02-29"))
        val (febRows, febFiles) = (feb.count(), feb.inputFiles.length)
        val totD = TxTable.read(spark, dt).inputFiles.length
        val st = s"$base/s"
        TxTable.overwriteClustered(spark, st, d.select("doc_id", "k"),
          "k", numFiles = 8)
        val span = TxTable.readRangeOf(spark, st, "k",
          "000000000000", "000000999999") // exactly the 1x id span
        val (spanRows, spanFiles) = (span.count(), span.inputFiles.length)
        val et = s"$base/e"
        TxTable.overwrite(spark, et,
          d.filter(col("doc_id") % 2 === 0).select("doc_id", "d"))
        TxTable.evolveAppend(spark, et,
          d.filter(col("doc_id") % 2 =!= 0).select("doc_id", "d", "q"))
        val head = TxTable.read(spark, et)
        // temporal z-order: (date, q) rectangles — a fixed Feb x low-q
        // box must scale exactly (per-replica-invariant derivations)
        // while pruning holds at both scales
        val zt = s"$base/zd"
        TxTable.overwriteZordered(spark, zt, d.select("doc_id", "d", "q"),
          Seq("d", "q"), numFiles = 8, bits = 0)
        val zbox = TxTable.readBoxOf(spark, zt, Seq(
          ("d", java.sql.Date.valueOf("2024-02-01"),
            java.sql.Date.valueOf("2024-02-29")),
          ("q", 0L, 999999L)))
        val (zRows, zFiles) = (zbox.count(), zbox.inputFiles.length)
        (febRows, febFiles, totD, spanRows, spanFiles, head.count(),
          head.filter(col("q").isNull).count(),
          TxTable.readVersion(spark, et, 1).count(),
          head.schema.fieldNames.mkString(","),
          zRows, zFiles,
          (System.nanoTime() - t0) / 1e9)
      }
      val (fr1, ff1, td1, sr1, sf1, h1, nq1, v1a, sch1, zr1, zf1, t1) = tx15For(1)
      val (frN, ffN, tdN, srN, sfN, hN, nqN, v1N, schN, zrN, zfN, tN) = tx15For(mult)
      require(zrN == zr1 * mult,
        s"temporal z-box mass must scale exactly ${mult}x: $zr1 -> $zrN")
      require(zf1 < 8 && zfN < 8,
        s"temporal z-box must prune files at both scales: $zf1/8, $zfN/8")
      require(frN == fr1 * mult,
        s"date-window mass must scale exactly ${mult}x: $fr1 -> $frN")
      require(ff1 < td1 && ffN < tdN,
        s"date range must prune files at both scales: $ff1/$td1, $ffN/$tdN")
      require(srN == sr1,
        s"the 1x-span string range must be INVARIANT under growth: $sr1 -> $srN")
      // mult == 1 has no out-of-span replicas at all — every file holds
      // in-span rows, so "kept < 8" is unsatisfiable by construction and
      // the smoke shape must not fail on it (pre-existing; found by the
      // round-22 smoke). The pruning claim is meaningful, and enforced,
      // only when growth adds out-of-span keys.
      require(mult == 1 || sfN < 8,
        s"string pruning must localize the shrunken span: kept $sfN/8")
      require(hN == h1 * mult && nqN == nq1 * mult && v1N == v1a * mult,
        s"evolution masses must scale exactly ${mult}x: " +
          s"head $h1->$hN nullq $nq1->$nqN v1 $v1a->$v1N")
      require(sch1 == schN && sch1 == "doc_id,d,q",
        s"widened schema must be size-invariant: '$sch1' vs '$schN'")
      println(f"tx date/string/evolve (${mult}x corpus): feb $fr1 -> $frN " +
        f"(exactly ${mult}x, $ff1/$td1 -> $ffN/$tdN files), 1x-span string " +
        f"range INVARIANT $sr1 rows ($sf1/8 -> $sfN/8 files), evolve head " +
        f"$h1 -> $hN null-q $nq1 -> $nqN v1 $v1a -> $v1N (all exactly " +
        f"${mult}x), schema invariant, temporal z-box $zr1 -> $zrN " +
        f"(exactly ${mult}x, $zf1/8 -> $zfN/8 files)  " +
        f"1x $t1%.2f s  ${mult}x $tN%.2f s  time-growth=${tN / t1}%.1fx")
    }

    // Round-16: FILE-LEVEL MERGE — a FIXED 100-key upsert into a
    // doc_id-clustered table must rewrite bytes proportional to the
    // MATCHED files, not the table. File count scales with the corpus
    // (so per-file width stays ~constant); the update window [100,199]
    // lives in one cluster file at both scales, so the rewritten bytes
    // must stay ~flat while the table (and its carried-by-reference
    // fraction) grows mult x. This is the probe the copy-on-write path
    // must pass at 100 TB: an upsert's cost is O(matched files).
    {
      import graft.api.TxTable
      def mergeFor(m: Int) = {
        val t = java.nio.file.Files
          .createTempDirectory(s"txmerge_$m").toString + "/t"
        TxTable.overwriteClustered(spark, t,
          docsFor(m).select(col("doc_id"), col("text")),
          "doc_id", numFiles = 8 * m)
        val before = TxTable.readVersion(spark, t, 1).inputFiles.toSet
        val t0 = System.nanoTime()
        TxTable.merge(spark, t,
          docsFor(1).select(col("doc_id"), col("text"))
            .filter(col("doc_id").between(100, 199))
            .withColumn("text", lit("upserted")), Seq("doc_id"))
        val d = (System.nanoTime() - t0) / 1e9
        val after = TxTable.read(spark, t).inputFiles.toSet
        def len(p: String) = new java.io.File(new java.net.URI(p)).length
        (before.size, before.intersect(after).size,
          (after -- before).toSeq.map(len).sum,
          after.toSeq.map(len).sum, d)
      }
      val (nf1, c1, rb1, tb1, dm1) = mergeFor(1)
      val (nfN, cN, rbN, tbN, dmN) = mergeFor(mult)
      require(tbN > tb1 * (mult - 2),
        s"the scaled table must actually be ~${mult}x the bytes: $tb1 -> $tbN")
      require(nfN - cN <= (nf1 - c1) + 1,
        s"the rewritten-file count must track the matched window, not the " +
          s"table: ${nf1 - c1} of $nf1 -> ${nfN - cN} of $nfN")
      val rg = rbN.toDouble / math.max(1L, rb1)
      require(rg <= 3.0,
        s"merge rewrite bytes must track matched files, not table size: " +
          s"$rb1 -> $rbN (${rg}x at table growth ${tbN.toDouble / tb1}x)")
      println(f"tx file-level merge (fixed 100-key upsert, ${mult}x corpus): " +
        f"table ${tb1 / 1e6}%.1f -> ${tbN / 1e6}%.1f MB " +
        f"(${tbN.toDouble / tb1}%.1fx), rewrote ${rb1 / 1e6}%.2f -> " +
        f"${rbN / 1e6}%.2f MB (growth ${rg}%.1fx), carried by name " +
        f"$c1/$nf1 -> $cN/$nfN files  1x $dm1%.2f s  ${mult}x $dmN%.2f s")
    }

    // Round-16: compactSmall — a FIXED tail of tiny appends onto a
    // clustered base that grows mult x. The pack must rewrite ~the
    // tail's bytes at both scales and carry every base file by name:
    // routine small-file maintenance is O(tail), never O(table).
    {
      import graft.api.TxTable
      def packFor(m: Int) = {
        val t = java.nio.file.Files
          .createTempDirectory(s"txpack_$m").toString + "/t"
        TxTable.overwriteClustered(spark, t,
          docsFor(m).select(col("doc_id"), col("text")),
          "doc_id", numFiles = 4 * m)
        val base = TxTable.readVersion(spark, t, 1).inputFiles.toSet
        (0 until 8).foreach(i => TxTable.append(spark, t,
          docsFor(1).select(col("doc_id"), col("text"))
            .filter(col("doc_id") % 8 === i)
            .withColumn("doc_id", col("doc_id") + 50000000L)))
        def len(p: String) = new java.io.File(new java.net.URI(p)).length
        val t0 = System.nanoTime()
        TxTable.compactSmall(spark, t,
          minFileBytes = base.map(len).min, targetBytes = 512L << 20)
        val d = (System.nanoTime() - t0) / 1e9
        val after = TxTable.read(spark, t).inputFiles.toSet
        (base.size, base.intersect(after).size,
          (after -- base).toSeq.map(len).sum, after.size, d)
      }
      val (b1, pc1, pb1, a1, dp1) = packFor(1)
      val (bN, pcN, pbN, aN, dpN) = packFor(mult)
      require(pc1 == b1 && pcN == bN,
        s"every base file must carry by name: $pc1/$b1, $pcN/$bN")
      require(a1 == b1 + 1 && aN == bN + 1,
        s"the 8-append tail must pack to ONE file: ${a1 - b1}, ${aN - bN}")
      val pg = pbN.toDouble / math.max(1L, pb1)
      require(pg <= 3.0,
        s"pack bytes must track the tail, not the table: $pb1 -> $pbN")
      println(f"tx compactSmall (fixed 8-append tail, ${mult}x base): " +
        f"packed ${pb1 / 1e6}%.2f -> ${pbN / 1e6}%.2f MB (growth ${pg}%.1fx), " +
        f"carried $pc1/$b1 -> $pcN/$bN base files, tail -> 1 file at both  " +
        f"1x $dp1%.2f s  ${mult}x $dpN%.2f s")
    }

    // Round-17: SQL MERGE INTO through the DSv2 catalog — the
    // group-based copy-on-write path with RUNTIME GROUP FILTERING. A
    // FIXED 100-key merge source against a doc_id-clustered table that
    // grows mult x must rewrite bytes proportional to the files that
    // ACTUALLY hold matched keys (the engine's _file IN (...) probe
    // narrows the scan before the write), carrying everything else by
    // reference. This is the SQL-DML twin of the file-level merge row
    // above: at 100 TB a MERGE statement's cost is O(matched files),
    // whether it arrives through the API or through SQL.
    {
      import graft.api.TxTable
      var mergeCall = 0
      def sqlMergeFor(m: Int) = {
        val w = java.nio.file.Files
          .createTempDirectory(s"txsqlmerge_$m").toString
        // one catalog name PER CALL, not per scale: Spark caches catalog
        // plugin instances by name, so re-pointing gsp.warehouse would
        // leave a cached catalog serving the old table (observed: the
        // 10x MERGE silently hit the 1x warehouse — and at mult=1 the
        // two calls share m, so a per-scale name aliased them too; the
        // round-22 smoke caught the second MERGE updating call 1's
        // table while the content check read call 2's)
        mergeCall += 1
        val cat = s"gsp${m}_$mergeCall"
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.api.TxCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
        val t = s"$w/t"
        TxTable.overwriteClustered(spark, t,
          docsFor(m).select(col("doc_id"), col("text")),
          "doc_id", numFiles = 8 * m)
        val before = TxTable.readVersion(spark, t, 1).inputFiles.toSet
        docsFor(1).select(col("doc_id"), col("text"))
          .filter(col("doc_id").between(100, 199))
          .withColumn("text", lit("upserted"))
          .createOrReplaceTempView("sp_merge_src")
        val t0 = System.nanoTime()
        spark.sql(s"""MERGE INTO $cat.t t USING sp_merge_src s
                     ON t.doc_id = s.doc_id
                     WHEN MATCHED THEN UPDATE SET *
                     WHEN NOT MATCHED THEN INSERT *""")
        val d = (System.nanoTime() - t0) / 1e9
        spark.catalog.dropTempView("sp_merge_src")
        val after = TxTable.read(spark, t).inputFiles.toSet
        def len(p: String) = new java.io.File(new java.net.URI(p)).length
        // CONTENT, not just file accounting: every matched key updated
        // exactly once, nothing gained or lost
        val head = TxTable.read(spark, t)
        val ups = head.filter(col("text") === lit("upserted")).count()
        val dups = head.groupBy("doc_id").count()
          .filter(col("count") > 1).count()
        (before.size, before.intersect(after).size,
          (after -- before).toSeq.map(len).sum,
          after.toSeq.map(len).sum, d, head.count(), ups, dups)
      }
      val (nf1, c1, rb1, tb1, d1, n1, u1, dp1m) = sqlMergeFor(1)
      val (nfN, cN, rbN, tbN, dN, nN, uN, dpNm) = sqlMergeFor(mult)
      require(u1 == 100 && uN == 100 && dp1m == 0 && dpNm == 0 &&
        nN == n1 * mult,
        s"SQL MERGE content must be exact at both scales: upserted " +
          s"$u1/$uN, dup-keys $dp1m/$dpNm, rows $n1 -> $nN")
      require(tbN > tb1 * (mult - 2),
        s"the scaled table must actually be ~${mult}x the bytes: $tb1 -> $tbN")
      require(nfN - cN <= (nf1 - c1) + 1,
        s"SQL MERGE must rewrite the matched window's files, not the " +
          s"table: ${nf1 - c1} of $nf1 -> ${nfN - cN} of $nfN")
      val rg = rbN.toDouble / math.max(1L, rb1)
      require(rg <= 3.0,
        s"SQL MERGE rewrite bytes must track matched files, not table " +
          s"size: $rb1 -> $rbN (${rg}x at table growth ${tbN.toDouble / tb1}x)")
      println(f"tx SQL MERGE INTO (fixed 100-key source, ${mult}x corpus): " +
        f"table ${tb1 / 1e6}%.1f -> ${tbN / 1e6}%.1f MB " +
        f"(${tbN.toDouble / tb1}%.1fx), rewrote ${rb1 / 1e6}%.2f -> " +
        f"${rbN / 1e6}%.2f MB (growth ${rg}%.1fx), carried by name " +
        f"$c1/$nf1 -> $cN/$nfN files  1x $d1%.2f s  ${mult}x $dN%.2f s")
    }

    // Round-18: MERGE-ON-READ deletion vectors — a FIXED 100-key
    // DELETE + a FIXED 100-key UPDATE as position-delete commits
    // against a doc_id-clustered table growing mult x. The probe pins
    // the O(changed rows) contract that goes BEYOND copy-on-write:
    // zero data files rewritten (every base file carried by name at
    // both scales), commit bytes = the tiny del/image parquet (flat in
    // mult), content exact after both commits, and a compactSmall
    // purge restores the DV-free head identically.
    {
      import graft.api.TxTable
      def dvFor(m: Int) = {
        val t = java.nio.file.Files
          .createTempDirectory(s"txdv_$m").toString + "/t"
        TxTable.overwriteClustered(spark, t,
          docsFor(m).select(col("doc_id"), col("text")),
          "doc_id", numFiles = 8 * m)
        val base = TxTable.readVersion(spark, t, 1).inputFiles.toSet
        def len(p: String) = new java.io.File(new java.net.URI(p)).length
        def stagedBytes(rels: Seq[String]) =
          rels.map(f => new java.io.File(
            new java.net.URI(s"file:$t/$f")).length).sum
        val t0 = System.nanoTime()
        TxTable.deleteWhereDv(spark, t, col("doc_id").between(100, 199))
        TxTable.updateWhereDv(spark, t,
          col("doc_id").between(300, 399), Map("text" -> lit("dvup")))
        val d = (System.nanoTime() - t0) / 1e9
        val cs = TxTable.history(spark, t).filter(_.action == "dv")
        val commitBytes = stagedBytes(cs.flatMap(c => c.dels ++ c.files))
        val after = TxTable.read(spark, t).inputFiles.toSet
        val head = TxTable.read(spark, t)
        val n = head.count()
        val up = head.filter(col("text") === "dvup").count()
        val ghosts = head.filter(col("doc_id").between(100, 199)).count()
        (base.size, base.intersect(after).size, commitBytes,
          base.toSeq.map(len).sum, d, n, up, ghosts, t)
      }
      val (b1, c1, cb1, tb1, d1, n1, u1, g1, t1p) = dvFor(1)
      val (bN, cN, cbN, tbN, dN, nN, uN, gN, _) = dvFor(mult)
      require(g1 == 0 && gN == 0 && u1 == 100 && uN == 100 &&
        nN == (n1 + 100) * mult - 100,
        s"DV content must be exact at both scales: ghosts $g1/$gN, " +
          s"updated $u1/$uN, rows $n1 -> $nN")
      require(c1 == b1 && cN == bN,
        s"a position delete rewrites NO data file: carried $c1/$b1 " +
          s"-> $cN/$bN")
      require(tbN > tb1 * (mult - 2),
        s"the scaled table must actually be ~${mult}x the bytes: $tb1 -> $tbN")
      val cg = cbN.toDouble / math.max(1L, cb1)
      require(cg <= 3.0,
        s"DV commit bytes must track CHANGED ROWS, not matched files or " +
          s"table size: $cb1 -> $cbN (${cg}x at table growth " +
          s"${tbN.toDouble / tb1}x)")
      // the purge: compactSmall over the 1x table materializes the DVs
      // and returns an identical DV-free head
      val expect = TxTable.read(spark, t1p).orderBy("doc_id", "text")
        .collect().toSeq
      TxTable.compactSmall(spark, t1p, minFileBytes = 1L)
      require(TxTable.history(spark, t1p).last.dels.isEmpty &&
        TxTable.read(spark, t1p).orderBy("doc_id", "text")
          .collect().toSeq == expect,
        "compactSmall must purge DVs content-identically")
      println(f"tx deletion vectors (fixed 100-key delete+update, ${mult}x " +
        f"corpus): table ${tb1 / 1e6}%.1f -> ${tbN / 1e6}%.1f MB " +
        f"(${tbN.toDouble / tb1}%.1fx), commit bytes ${cb1 / 1e3}%.1f -> " +
        f"${cbN / 1e3}%.1f KB (growth ${cg}%.1fx), data files rewritten " +
        f"0/$b1 -> 0/$bN, purge content-identical  " +
        f"1x $d1%.2f s  ${mult}x $dN%.2f s")
    }

    // Round-19: SQL UPDATE under dv_dml — the statement a 100-TB user
    // actually types — must keep the DV machinery's O(changed rows)
    // write cost end-to-end through the CATALOG route: a FIXED 100-key
    // SQL UPDATE against a table growing mult x plans the DELTA
    // row-level operation, rewrites ZERO data files, and lands commit
    // bytes flat in mult. The DV-bearing head then reads through the
    // COLUMNAR batch path (scan-time ratio vs its DV-free twin is
    // printed, not required — wall clocks flake under host contention;
    // the plan shape is spec-pinned in TxDvSpec), and the driver-
    // collect guard stays bounded: del bytes are metadata-checked
    // BEFORE any row reaches the driver.
    {
      import graft.api.TxTable
      def dmlFor(m: Int) = {
        val w = java.nio.file.Files
          .createTempDirectory(s"txdvdml_$m").toString
        val cat = "gsp" + java.lang.Integer.toHexString(w.hashCode)
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.api.TxCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
        spark.conf.set(s"spark.sql.catalog.$cat.dv_dml", "true")
        val t = s"$w/t"
        TxTable.overwriteClustered(spark, t,
          docsFor(m).select(col("doc_id"), col("text")),
          "doc_id", numFiles = 8 * m)
        val base = TxTable.readVersion(spark, t, 1).inputFiles.toSet
        def len(p: String) = new java.io.File(new java.net.URI(p)).length
        def stagedBytes(rels: Seq[String]) =
          rels.map(f => new java.io.File(
            new java.net.URI(s"file:$t/$f")).length).sum
        val t0 = System.nanoTime()
        spark.sql(s"UPDATE $cat.t SET text = 'dvsql' " +
          "WHERE doc_id BETWEEN 300 AND 399")
        val d = (System.nanoTime() - t0) / 1e9
        val c = TxTable.history(spark, t).last
        require(c.action == "dv" && c.op.contains("update"),
          s"SQL UPDATE under dv_dml must land ONE delta dv commit, " +
            s"got ${c.action}/${c.op}")
        val commitBytes = stagedBytes(c.dels ++ c.files)
        val after = TxTable.read(spark, t).inputFiles.toSet
        // scan walls: DV-bearing head (columnar batch compaction) vs
        // its DV-free twin (VERSION AS OF 1, native parquet scan)
        def scanSec(q: String): Double = {
          val s0 = System.nanoTime()
          spark.sql(q).collect()
          (System.nanoTime() - s0) / 1e9
        }
        val sDv = scanSec(s"SELECT sum(length(text)) FROM $cat.t")
        val sTwin = scanSec(
          s"SELECT sum(length(text)) FROM $cat.t VERSION AS OF 1")
        val head = TxTable.read(spark, t)
        val up = head.filter(col("text") === "dvsql").count()
        (base.size, base.intersect(after).size, commitBytes,
          base.toSeq.map(len).sum, d, head.count(), up, sDv, sTwin, t)
      }
      val (b1, c1, cb1, tb1, d1, n1, u1, sDv1, sTw1, t1p) = dmlFor(1)
      val (bN, cN, cbN, tbN, dN, nN, uN, sDvN, sTwN, _) = dmlFor(mult)
      require(u1 == 100 && uN == 100 && nN == n1 * mult,
        s"SQL dv UPDATE content must be exact at both scales: " +
          s"updated $u1/$uN, rows $n1 -> $nN")
      require(c1 == b1 && cN == bN,
        s"SQL UPDATE under dv_dml rewrites NO data file: carried " +
          s"$c1/$b1 -> $cN/$bN")
      require(tbN > tb1 * (mult - 2),
        s"the scaled table must actually be ~${mult}x the bytes: " +
          s"$tb1 -> $tbN")
      val cg = cbN.toDouble / math.max(1L, cb1)
      require(cg <= 3.0,
        s"SQL dv UPDATE commit bytes must track CHANGED ROWS: " +
          s"$cb1 -> $cbN (${cg}x at table growth ${tbN.toDouble / tb1}x)")
      // the driver-collect guard: with a 1-byte cap the V2 scan build
      // fails LOUDLY naming the purge verb (no del row was collected —
      // the check is metadata-only), while the distributed API read
      // stays correct; maintenance recovers SQL reads
      spark.conf.set(TxTable.DvMaxDriverBytesConf, "1")
      val guarded =
        try { TxTable.delPositions(spark, t1p, TxTable.snapshotState(
          spark, t1p, TxTable.latestVersion(spark, t1p))); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("compact_small") }
        finally spark.conf.unset(TxTable.DvMaxDriverBytesConf)
      require(guarded,
        "the DV driver-collect guard must fail loudly naming compact_small")
      require(TxTable.read(spark, t1p).count() == n1,
        "the distributed API read is unaffected by the driver cap")
      println(f"tx SQL UPDATE via dv_dml (fixed 100-key, ${mult}x corpus): " +
        f"table ${tb1 / 1e6}%.1f -> ${tbN / 1e6}%.1f MB " +
        f"(${tbN.toDouble / tb1}%.1fx), commit bytes ${cb1 / 1e3}%.1f -> " +
        f"${cbN / 1e3}%.1f KB (growth ${cg}%.1fx), data files rewritten " +
        f"0/$b1 -> 0/$bN, DV-scan/twin wall ${sDv1 / math.max(1e-9, sTw1)}%.2fx " +
        f"(1x) ${sDvN / math.max(1e-9, sTwN)}%.2fx (${mult}x), guard loud  " +
        f"1x $d1%.2f s  ${mult}x $dN%.2f s")
    }

    // Round-20: ALTER TABLE RENAME COLUMN via column mapping — the
    // 100-TB contract is METADATA-ONLY: one data-less commit whose
    // bytes and wall are flat in the table size, ZERO data files
    // touched, and the renamed column keeps its data-skipping (a
    // fixed range probe through the NEW name reads the same small
    // file count at every mult — stats stay keyed by the immutable
    // physical name).
    {
      import graft.api.TxTable
      def renameFor(m: Int) = {
        val w = java.nio.file.Files
          .createTempDirectory(s"txmapsp_$m").toString
        val cat = "gmp" + java.lang.Integer.toHexString(w.hashCode)
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.api.TxCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
        val t = s"$w/t"
        TxTable.overwriteClustered(spark, t,
          docsFor(m).select(col("doc_id"), col("text")),
          "doc_id", numFiles = 8 * m)
        val base = TxTable.readVersion(spark, t, 1).inputFiles.toSet
        val t0 = System.nanoTime()
        spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN doc_id TO key")
        val d = (System.nanoTime() - t0) / 1e9
        val v = TxTable.latestVersion(spark, t)
        val commitBytes = new java.io.File(
          f"$t/_txlog/$v%020d.json").length
        val after = TxTable.read(spark, t).inputFiles.toSet
        require(after == base,
          s"RENAME must touch zero data files: ${after.size} vs ${base.size}")
        // skipping through the NEW logical name: a fixed 100-key range
        val probe = TxTable.readRange(spark, t, "key", 300, 399)
        val kept = probe.inputFiles.length
        val hit = probe.count()
        (base.size, commitBytes, d, kept, hit)
      }
      val (f1, cb1, d1, k1, h1) = renameFor(1)
      val (fN, cbN, dN, kN, hN) = renameFor(mult)
      require(h1 == 100L && hN == 100L,
        s"the fixed range reads exactly its rows through the rename: $h1/$hN")
      require(kN <= k1 * 2 + 1,
        s"skipping holds through the rename: kept files $k1 -> $kN of " +
          s"$f1 -> $fN (a lost index would read all files)")
      println(f"tx RENAME COLUMN mapping (${mult}x corpus): commit bytes " +
        f"${cb1 / 1e3}%.1f -> ${cbN / 1e3}%.1f KB " +
        f"(growth ${cbN.toDouble / cb1}%.1fx), wall $d1%.2f -> $dN%.2f s, " +
        f"data files touched 0/$f1 -> 0/$fN, fixed range probe kept " +
        f"$k1/$f1 -> $kN/$fN files (100/100 rows both)")
    }

    spark.stop()
  }
}
