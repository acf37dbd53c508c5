package graftbench

/** The per-layer metrics the traced run reports, by name and unit, for
  * every workload (zero where a workload never enters a layer).
  * BENCHMARK.json lists the same names and units; test_bench.py keeps the
  * two in step. */
object Metrics {
  private val operatorCalls = Seq(
    "implicits.sampleExt", "CorpusCuration.exactDedup", "GraftDedup.signatures",
    "GraftDedup.lshCandidates", "GraftDedup.verifyJaccard", "GraftDedup.connectedComponents",
    "GraftDedup.keepSet", "CorpusCuration.qualityFilter", "TextRank.bm25TopK",
    "GraftText.wordNGrams", "GraftSimilarity.buildIvfIndex", "GraftPq.trainPq",
    "GraftSimilarity.ivfTopKWith", "GraftSimilarity.ivfTopKWithQ4", "GraftPq.ivfPqTopKWithCw")
  private val storeOps = Seq("create", "append", "delete", "compact", "vacuum", "increment", "read")
  private val kernels = Seq("graft_minhash", "graft_cosine", "graft_q4b_cos", "graft_pq_adc")

  val PerLayer: Seq[(String, String)] =
    Seq("plans.plan_s" -> "s", "plans.sample_rows_out" -> "count",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.exec_run_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s",
        "spark.input_bytes" -> "B", "spark.input_rows" -> "count",
        "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
        "spark.spill_bytes" -> "B", "spark.broadcast_max_bytes" -> "B",
        "spark.codegen_s" -> "s", "spark.slot_util" -> "ratio", "spark.driver_gap_s" -> "s") ++
    kernels.map(k => s"functions.$k.rows_per_s" -> "rows/s") ++
    operatorCalls.flatMap(c => Seq(s"operators.$c.s" -> "s", s"operators.$c.jobs" -> "count")) ++
    Seq("operators.call_s" -> "s") ++
    storeOps.flatMap(o => Seq(s"stores.$o.s" -> "s", s"stores.$o.jobs" -> "count")) ++
    Seq("stores.files_written" -> "count", "stores.bytes_written" -> "B",
        "stores.live_bytes" -> "B", "stores.versions" -> "count",
        "cache.rdds_after" -> "count", "cache.bytes_after" -> "B", "cache.entries_after" -> "count",
        "workload.write_p50_s" -> "s",
        "workload.read_p50_s" -> "s", "workload.write_amp" -> "ratio",
        "workload.space_amp" -> "ratio", "workload.recall_at_10" -> "ratio",
        "workload.fail_ratio" -> "ratio", "workload.op_tail_pct" -> "percentile",
        "workload.op_tail_n" -> "count",
        "trace.pass_s_untraced" -> "s", "trace.pass_s_traced" -> "s",
        "trace.overhead_ratio" -> "ratio")
}
