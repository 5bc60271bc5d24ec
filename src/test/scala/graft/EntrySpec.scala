package graft

/** Driver-contract smoke: entry() must work on a plain session (the
  * driver supplies its own), and every query name must have either an
  * oracle or be a deliberate rows-only entry.
  */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001 from a fresh session") {
    val fresh = spark.newSession()
    assert(SparkEntry.entry(fresh).count() > 0)
  }

  test("oracle keys are a subset of query names; rows-only set is known") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without queries: ${os -- qs}")
    // every query carries an oracle except the approx-sketch profile,
    // whose estimates are estimator-specific by design (the driver records
    // a rows-only check; SketchSpec bounds the estimates against exact)
    assert((qs -- os) === Set("q90_approx_profile"), (qs -- os).toString)
  }

  /** Queries that share ONE oracle string, each group with the reason
    * the extra engines are registered. A twin engine that only
    * re-proves another query's oracle does not get a registry entry;
    * a new group must be declared here, with its reason. */
  private val sharedOracles: Map[Set[String], String] = Map(
    Set("q40_topk_cosine", "q102_topk_agg") ->
      "top-k engines: window sort vs map-side TopKAgg combine",
    Set("q60_tumbling_counts", "q235_stream_tumbling") ->
      "streaming engine of the batch tumbling counts",
    Set("q61_sliding_counts", "q259_stream_sliding") ->
      "streaming engine of the batch sliding counts",
    Set("q67_session_window", "q236_stream_sessions",
      "q240_stream_stateful_sessions") ->
      "streaming engines of batch sessions: session_window, GroupState",
    Set("q114_decontamination", "q276_bloom_decontaminate",
      "q286_decontaminate_auto") ->
      "router arm: q286 routes broadcast-exact vs bloom",
    Set("q128_cc_converged", "q130_cc_bigstar", "q140_cc_incremental",
      "q245_stream_cc_store") ->
      "CC engines: fixpoint, big-star, incremental, streaming store",
    Set("q176_bm25_retrieval", "q305_bm25_index_serve") ->
      "stored engine: BM25 from the maintained segment store",
    Set("q237_bpe_train", "q257_bpe_train_local") ->
      "BPE trainers: distributed vs in-memory dictionary",
    Set("q243_stream_upsert_sink", "q261_stream_upsert_partitioned") ->
      "streaming sinks: plain vs partition-pruned upsert",
    Set("q253_skyline", "q256_skyline_ranged", "q272_skyline_auto") ->
      "router arm: q272 routes one- vs two-level skyline",
    Set("q280_ivf_frozen_append", "q293_ann_index_append") ->
      "stored engine: frozen append folded into the ANN segment store",
    Set("q307_effective_mixture_sample", "q308_ingest_mixture_replan") ->
      "stored engine: mixture replan from the ingest artifacts")

  test("every group of queries sharing one oracle string is declared " +
      "with the reason its engines are registered") {
    val groups = SparkEntry.oracleSql.toSeq
      .groupBy(_._2).values.map(_.map(_._1).toSet)
      .filter(_.size >= 2).toSet
    val undeclared = groups -- sharedOracles.keySet
    assert(undeclared.isEmpty,
      "undeclared shared-oracle groups (register one engine per " +
        "contract, or declare the group with its reason): " +
        undeclared.map(_.toSeq.sorted.mkString("{", ", ", "}"))
          .toSeq.sorted.mkString("; "))
    val stale = sharedOracles.keySet -- groups
    assert(stale.isEmpty,
      s"declared groups that no longer share one oracle string: $stale")
  }

  test("query names are well-formed and oracle SQL non-empty") {
    SparkEntry.queries.keys.foreach(k =>
      assert(k.matches("q\\d+_\\w+"), k))
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, k)
    }
  }
}
