package graft.tools

import org.apache.spark.sql.functions._

/** Focused near-dup scale probe: pairs / wall / shuffle bytes at 1x and
  * Nx under the same bijective word-renaming replication as ScaleProbe,
  * plus a content checksum over the pair set so any plan change can
  * prove byte-identical output, not just equal counts.
  * Usage: NearDupProbe <sfDir> [mult] [hot]
  */
object NearDupProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.SparkConfig.builder("graft-neardupprobe",
      graft.SparkConfig.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.api.Dedup

    val counters = graft.obs.SparkCounters.install(spark.sparkContext)
    def shufSnap(): Long = counters.snapshot("shuffle_write_bytes").toLong

    val docs0 = spark.read.parquet(s"$dir/documents.parquet")
    def docsFor(m: Int) = docs0
      .crossJoin(spark.range(m).select(col("id").as("rep")))
      .select((col("doc_id") + col("rep") * lit(1000000)).as("doc_id"),
        expr("array_join(transform(split(text, ' '), " +
          "w -> concat(w, 'zz', CAST(rep AS STRING))), ' ')").as("text"))

    // order-free content checksum: XOR of per-row hashes
    def checksum(p: org.apache.spark.sql.DataFrame): Long =
      p.agg(expr("bit_xor(xxhash64(doc_a, doc_b, CAST(jaccard AS STRING)))"))
        .collect()(0).getLong(0)

    if (sys.env.contains("NDP_EXPLAIN")) {
      val sh = Dedup.shingles(docsFor(1), "doc_id", "text")
      Dedup.nearDuplicatePairs(sh, 0.5).explain("formatted")
      spark.stop(); return
    }

    // `hot` mode: plant a boilerplate 4-gram with df just under maxDf
    // (the worst legal skew) and compare the salted hot-tok join
    // (default hotDf) against the unsalted shape (hotDf = maxDf): the
    // straggler bound is the max-task / mean-task CPU ratio of the
    // stage whose slowest task is worst. The planted gram adds NO
    // output pairs (its docs share only boilerplate, jaccard ≪
    // threshold) — it exists purely to blow up one join group.
    if (args.contains("hot")) {
      // Derive the plant rate from the df cap, not a fixed fraction of
      // the corpus: a fixed modulus makes df scale with `mult`, so
      // outside one narrow corpus-size band the planted gram would be
      // silently df-capped away (or land cold) in BOTH runs and the
      // probe would print a "validated" ratio while exercising no skew.
      val maxDfCap = 10000
      val total = docsFor(mult).count()
      val modK = math.max(1L, total / (maxDfCap * 9L / 10)) // df ~= 0.9*maxDf
      val planted = docsFor(mult).withColumn("text",
        when(pmod(col("doc_id"), lit(modK)) === 0,
          concat(col("text"), lit(" hotw0 hotw1 hotw2 hotw3")))
          .otherwise(col("text")))
      val nHot = planted.filter(col("text").contains(" hotw0")).count()
      require(nHot > 1000 && nHot <= maxDfCap,
        s"hot probe invalid: planted df=$nHot outside (hotDf=1000, " +
          s"maxDf=$maxDfCap] — corpus too small/large for a hot plant; " +
          s"nothing skewed would be measured")
      for ((hd, label) <- Seq(1000 -> "salted(hotDf=1000)",
                              maxDfCap -> "unsalted(hotDf=maxDf)")) {
        spark.sparkContext.setJobGroup(label, label, false)
        val sh = Dedup.shingles(planted, "doc_id", "text")
        val t0 = System.nanoTime()
        val pr = Dedup.nearDuplicatePairs(sh, 0.5, maxDf = maxDfCap, hotDf = hd)
        val n = pr.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val ck = checksum(pr)
        // straggler metric: the stage whose max task is globally worst
        val worst = counters.stages.filter(_.group == label)
          .maxBy(_.counts("max_task_cpu_s"))
        val max = worst.counts("max_task_cpu_s")
        val mean = math.max(1e-3, worst.counts("executor_cpu_s") / worst.counts("tasks"))
        println(f"hot-tok $label%-22s df=$nHot pairs=$n wall=$wall%7.2f s  " +
          f"ck=$ck  worst-stage=${worst.id} max-task=$max%.1f s " +
          f"mean-task=$mean%.3f s ratio=${max / mean}%.1fx")
        sh.unpersist()
      }
      spark.stop(); return
    }

    for ((m, label) <- Seq(1 -> "1x", mult -> s"${mult}x")) {
      val sh = Dedup.shingles(docsFor(m), "doc_id", "text")
      val s0 = shufSnap()
      val t0 = System.nanoTime()
      val pr = Dedup.nearDuplicatePairs(sh, 0.5)
      val n = pr.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val s1 = shufSnap()
      val ck = checksum(pr)
      println(f"near-dup $label%-5s pairs=$n%-8d wall=$wall%7.2f s  " +
        f"shuffle=${(s1 - s0) / 1e6}%9.1f MB  checksum=$ck")
      sh.unpersist()
    }
    spark.stop()
  }
}
