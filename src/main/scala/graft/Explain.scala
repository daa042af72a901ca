package graft

/** Plan-audit tool: prints the formatted physical plan of selected queries
  * so shuffle/broadcast/pushdown/codegen claims can be inspected per round.
  * `runMain graft.Explain [sfDir] [query...]` — defaults to a set of
  * scale-critical queries. Output goes to stdout between PLAN markers. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q2_filter_containedby", "q6_spatial_join",
        "q4_distance_join", "q35_raster_join_misaligned", "q39_tile_store_pruned",
        "q42_interval_join", "q13_dedup_exact",
        "q48_persisted_filter", "q51_ann_ivf_store",
        "q54_pack", "q55_chunk", "q56_epoch_shuffle",
        "q61_dup_spans", "q62_incr_dedup", "q63_quality_gate",
        "q67_knn_join_store",
        // round 8: model stores + interval store + n-dim clustering
        "q147_dbscan_predict", "q151_interval_store_join",
        "q152_interval_store_filter", "q154_dbscan_model_store",
        "q156_dbscan_vec")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"==== PLAN $n ====")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
