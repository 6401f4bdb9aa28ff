package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan dump: writes the FORMATTED physical plan of declared queries
  * to a markdown file, so plan quality (pushed filters, pruned
  * schemas, broadcast vs shuffle joins, partial aggregation,
  * window-group limits, absence of nested-loop joins) can be reviewed
  * as an artifact rather than re-derived.
  *
  * `sbt "runMain graft.Plans [sfDir] [out.md] [q1,q2,...] [--exec]"`
  * dumps the named queries, or [[Audited]] when none are named, on
  * the same input-sized session the bench runs ([[GraftSession.sized]]),
  * so the plans are the executed shapes, not Spark-default ones.
  * `--exec` runs each query before dumping it, so an adaptive plan
  * shows its runtime-FINAL form (`isFinalPlan=true`): exchange reuse,
  * `AQEShuffleRead` and join-strategy changes are decided at runtime
  * and absent from the pre-execution explain.
  */
object Plans {

  /** Queries worth auditing: the bench top-enders + every operator
    * whose plan shape IS its scale argument. */
  val Audited: Seq[String] = Seq(
    "q_flagship_revenue_by_nation", "q06_group_agg", "q11_topn_per_group",
    "q12_retention", "q15_bucketed_join",
    "td05_dedup_exact", "td06_dedup_jaccard",
    "td07_dedup_minhash", "td08_dedup_simhash", "td12_decontaminate",
    "td13_repetition", "td14_source_overlap", "td15_substring_dedup",
    "e01_asof_join", "e02_sessionize", "e03_range_join",
    "e04_json_props", "e05_funnel", "e06_gap_quantiles",
    "td16_stratified_split",
    "td17_rarity_score", "td18_pack_chunks", "td21_source_quality",
    "td22_sample_weights", "td23_ingest_dedup",
    "v01_ann_cosine_topk", "v02_ann_lsh_topk", "v03_embedding_neardup",
    "v04_ann_ivf_topk", "v05_embedding_stats", "v06_kmeans_step",
    "v07_diverse_sample", "v08_ann_recall", "v09_pq_assign",
    "v10_semdedup", "v11_semantic_decontam", "q16_salted_join",
    "v12_random_projection", "td25_bigram_novelty", "td09_dedup_components",
    "v13_pca_power_step", "e07_decayed_engagement",
    "td26_chunk_overlap", "e08_event_transitions",
    "e09_daily_anomaly", "v14_prototype_prune", "v15_label_dispersion",
    "v16_modality_lift", "td27_phrase_detect", "td28_containment_dedup",
    "e10_rolling_features", "v17_index_health",
    "e11_cohort_matrix", "td29_shard_assign", "td30_vocab_growth",
    "v18_knn_label_purity", "td31_pii_scan", "v19_ivfpq_assign",
    "td32_lm_score", "td33_quality_mixture")

  /** The markdown dump of `names`' plans over `dir`. Every name is
    * checked against the registry before any query is planned: a
    * renamed query or a typo must fail the dump, not silently thin
    * the artifact. A query whose BUILDER refuses (e.g. v03's
    * corpus-size guard on a >4M-vector dir) costs only its own
    * section — the refusal text IS the plan note in that case. */
  def render(spark: SparkSession, dir: String, names: Seq[String],
      exec: Boolean): String = {
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"not in SparkEntry.queries: ${missing.mkString(", ")}")
    val sb = new StringBuilder
    sb.append("# Physical plans of the scale-sensitive declared queries\n\n")
    sb.append(s"Generated by `graft.Plans` over `$dir`. Things to check\n")
    sb.append("per plan: `PushedFilters` reaches the scan, `ReadSchema` is\n")
    sb.append("pruned to used columns, dimensions broadcast, aggregates have\n")
    sb.append("a `partial_` phase, top-k uses `TakeOrderedAndProject` /\n")
    sb.append("`WindowGroupLimit`. A `BroadcastNestedLoopJoin` is acceptable\n")
    sb.append("ONLY when its broadcast side is a bounded tiny set (v01\n")
    sb.append("streams the corpus past 10 broadcast query vectors; v04 past\n")
    sb.append("8 broadcast seeds — both linear in corpus size); it is a\n")
    sb.append("scale bug when both sides grow with the data, which\n")
    sb.append("PlanQualitySpec pins for v03.\n")
    if (exec) sb.append("\nEach query ran before its plan was taken (`--exec`).\n")
    for (name <- names) {
      spark.catalog.clearCache() // plans, not cache hits
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        if (exec) df.collect()
        val plan = df.queryExecution.explainString(FormattedMode)
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      } catch {
        case NonFatal(e) =>
          sb.append(s"\n## $name\n\nNOT PLANNED — builder refused/failed: " +
            s"${e.getMessage}\n")
      }
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(flags.forall(_ == "--exec"), s"unknown option: ${flags.mkString(" ")}")
    val sfDir = pos.lift(0).getOrElse(SparkEntry.SmallestSfDir)
    val out = pos.lift(1).getOrElse("PLANS.md")
    val names = pos.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Audited)
    val spark = GraftSession.sized(sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      Files.writeString(Paths.get(out),
        render(spark, sfDir, names, exec = flags.nonEmpty))
      println(s"wrote ${names.size} plan sections to $out")
    } finally spark.stop()
  }
}
