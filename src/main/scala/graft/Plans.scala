package graft
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic main: dumps `explain("formatted")` plans — the plan-audit
  * loop behind BASELINE.md and the per-round evidence files under
  * `plans/`.
  *
  *   runMain graft.Plans
  *     → target/plans.txt: the headline queries over sf0.01
  *   runMain graft.Plans <dataDir> <outDir> <tag> <q1> [q2 ...]
  *     → <outDir>/<q1>_<tag>.txt ...: one file per named query
  *
  * Every query runs before its plan is dumped, so the formatted explain
  * of the adaptive plan prints the FINAL plan (isFinalPlan=true, reused
  * exchanges visible) followed by the initial one.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    val names = Seq("q_time_based", "q_join_revenue", "q_scd_latest", "q_scd_latest_maxby",
      "q_ann_bruteforce", "q_dedup_minhash_lsh", "q_dedup_exact", "q_topk_orders", "q_mm_decode",
      "q_funnel", "q_dedup_embedding_lsh", "q_dedup_simhash", "q_ann_ivf", "q_sessionize",
      "q_pipeline_prep", "q_emb_quantize", "q_asof_join", "q_range_join",
      "q_quality_gopher", "q_decontaminate", "q_chunk_dedup", "q_pii_redact",
      "q_split_assign", "q_stratified_sample", "q_seq_pack", "q_idf_score",
      "q_pipeline_curate", "q_ann_ivf_kmeans",
      "q_hll_distinct", "q_cms_topk", "q_tfidf_pairs", "q_rolling_daily", "q_mm_phash",
      "q_bloom_prune", "q_skew_join", "q_perplexity", "q_mixture_weights",
      "q_len_quantiles",
      "q_kmv_jaccard", "q_pmi_colloc", "q_cube_stats", "q_group_sample",
      "q_incr_dedup", "q_ngram_novelty",
      "q_boilerplate_strip", "q_winnow_overlap", "q_rand_proj", "q_pca_power",
      "q_source_drift", "q_quality_classifier", "q_dup_span",
      "q_row_hash", "q_entry_flagship", "q_quality_bins", "q_dedup_edit",
      "q_dedup_keepbest", "q_passage_chunk", "q_epoch_shuffle",
      "q_ann_topk_agg", "q_pipeline_spans",
      // round-11 continuation headliners
      "q_quality_topp", "q_quantile_norm", "q_bootstrap_ci",
      "q_mahalanobis", "q_adamic_adar", "q_emb_alignment",
      "q_confident_joint", "q_isotonic",
      // round-16 tiered oracle twins
      "q_scd_latest_tiered", "q_scd_latest_keys", "q_cdc_sync_tiered",
      "q_dedup_minhash_tiered", "q_hll_tiered")
    def plan(dataDir: String, name: String): String =
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        spark.sparkContext.runJob(df.queryExecution.toRdd,
          (it: Iterator[InternalRow]) => it.size)
        df.queryExecution.explainString(FormattedMode)
      } catch { case e: Throwable =>
        System.err.println(s"ERROR $name: $e")
        s"ERROR $e"
      }
    def write(out: Path, text: String): Unit = {
      Files.writeString(out, text)
      println(s"WROTE $out")
    }
    args.toSeq match {
      case Seq() =>
        write(Paths.get("target/plans.txt"),
          names.map(n => s"\n========== $n ==========\n" + plan(d, n)).mkString)
      case Seq(dataDir, outDir, tag, queries @ _*) if queries.nonEmpty =>
        val out = Files.createDirectories(Paths.get(outDir))
        queries.foreach(n => write(out.resolve(s"${n}_$tag.txt"), plan(dataDir, n)))
      case _ =>
        System.err.println(
          "usage: graft.Plans [<dataDir> <outDir> <tag> <query> [query ...]]")
        sys.exit(2)
    }
    spark.stop()
  }
}
