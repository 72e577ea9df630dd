package graft.bench

/** Prints `explain("formatted")` for representative queries so plan
  * shape (PushedFilters, ReadSchema pruning, broadcast vs shuffle joins,
  * WholeStageCodegen spans) can be audited against the 100 TB design
  * intent. Usage: runMain graft.bench.PlanAudit [sfDir] [names...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet else Set(
      "q2_join_topk", "q3_multi_join", "t1_token_count", "s1_cosine_topk",
      "q10_semi_join", "m3_frame_sample",
      // round-2 additions: corpus-level agg, capped shingle join, office run
      "x_global_entities", "t6_ngram_jaccard", "x_office_spans",
      // round-3 additions: shuffle-free IVF assignment, edge aggregation,
      // office entity facet
      "s4_ivf_topk", "x_entity_edges_core", "x_office_entities",
      // round-4 additions: facet column pruning at the cache scan (the
      // InMemoryTableScan Output list must name only the facet's
      // columns, with the kind predicate pushed into the scan)
      "x_fact_summary_core", "x_disambig_core", "x_typed_facts_core",
      // round-4 ops: t16 must be a semi-join + aggs (no pair join),
      // t17 must broadcast the tiny budgets frame
      "t16_contamination", "t17_token_budget")
    val spark = graft.util.LocalSpark.session()
    graft.SparkEntry.queries.filter(q => names(q.name)).foreach { q =>
      println(s"\n==================== ${q.name} ====================")
      q.build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
