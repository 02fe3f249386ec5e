package graft.tools

import java.nio.file.{Files, Paths}

/** Prints `explain("formatted")` for each named query, so plan
  * regressions (lost pushdown, missed broadcast, surprise shuffles) are
  * visible. Given an output dir and suffix, writes each plan to
  * `<outDir>/<query>_<suffix>.txt` instead (the before/after plan
  * artifacts under `plans/`). Uses the production SparkConfig session, so
  * the plans match what Bench and Verify run: AQE initial plans
  * (`isFinalPlan=false`); join strategy, Exchange count and
  * PushedFilters/ReadSchema are the fields that matter.
  *
  * Usage: PlanDump <sfDir> [<outDir> <suffix>] [query...]
  * (the second argument is an output dir when it names no query)
  */
object PlanDump {
  private val DefaultQueries: Seq[String] = Seq(
    "q_scan_project", "q_filter_pred", "q_join_multiway", "q_agg_group",
    "q_join_bucketed", "q_agg_bucketed", "q_dedup_minhash", "q_dedup_incr",
    "q_sim_cosine", "q_sample_det", "q_join_asof", "q_typed_agg",
    "q_sim_ann_ivf", "q_decontaminate", "q_pack_greedy", "q_pipeline_e2e",
    "q_text_bm25", "q_sim_quant", "q_sim_rp", "q_text_perplexity",
    "q_sketch_cms", "q_pipeline_chunks", "q_mix_temperature",
    "q_dedup_keep_best", "q_text_hashtf", "q_evt_funnel",
    "q_text_rep_ngram", "q_dedup_segments", "q_stats_length_pct",
    "q_dedup_span_removal", "q_dedup_span_gram", "q_token_count_bpe",
    "q_bpe_encode", "q_sim_ivf_pq", "q_mm_video_meta",
    "q_text_prefix_boiler", "q_dedup_paragraph", "q_dedup_paragraph_incr",
    "q_pack_shuffle", "q_quality_gopher", "q_decontam_fuzzy",
    "q_mix_upsample", "q_dedup_exact_norm")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val registered = graft.SparkEntry.queries
    val (out, rest) = args.lift(1).filterNot(registered.contains) match {
      case Some(dir) => (Some((dir, args(2))), args.drop(3).toSeq)
      case None => (None, args.drop(1).toSeq)
    }
    val spark = graft.SparkConfig.builder("graft-plandump",
      graft.SparkConfig.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (if (rest.nonEmpty) rest else DefaultQueries).foreach { n =>
      val txt = registered(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      out match {
        case Some((dir, suffix)) =>
          Files.createDirectories(Paths.get(dir))
          Files.writeString(Paths.get(dir, s"${n}_$suffix.txt"), txt)
          println(s"wrote $dir/${n}_$suffix.txt (${txt.length} chars)")
        case None =>
          println(s"\n================ $n ================")
          println(txt)
      }
    }
    spark.stop()
  }
}
