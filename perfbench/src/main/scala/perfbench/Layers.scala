package perfbench

/** Per-layer metrics of a traced run, derived from the spans of its
  * timed phase and from the counts read around it.
  */
object Layers {
  val WarehouseVerbs = Seq("load", "upsert", "delete_mor", "update_mor",
    "compact", "analyze", "fetch", "scan_pruned", "query", "get_as_of",
    "changes_between")

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(num: Double, den: Double): Double =
    if (den <= 0) 0.0 else num / den

  def metrics(all: Seq[Span], t0: Long, t1: Long, timed: Counts,
              gcMs: Long, ops: Long, wallS: Double, cores: Int,
              caches: Seq[(Int, Long)], layout: Seq[(Int, Int)])
      : Seq[(String, Double, String)] = {
    val spans = all.filter(s => s.startNs >= t0 && s.endNs <= t1)
    def named(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name)
    def p50(layer: String, name: String) =
      Main.median(named(layer, name).map(_.ms))
    val reads = spans.filter(_.extra.contains("read"))
    val writes = spans.filter(_.extra.contains("write"))
    val extSteps = spans.filter(s => s.layer == "ext" && s.extra.contains("step"))
    val loads = named("warehouse", "load")
    val sized = loads.filter(_.extra.contains("size_limit"))
    val perOp = math.max(1L, ops).toDouble

    Seq(
      ("bench.generate_ms_per_op",
        named("bench", "generate").map(_.ms).sum / perOp, "ms"),
      ("schema.infer_ms", p50("schema", "infer_json"), "ms"),
      ("ingest.chunks_per_load",
        mean(loads.map(_.counts.parquetCreates.toDouble)), "count"),
      ("ingest.chunk_fill",
        ratio(sized.map(_.extra.getOrElse("json_bytes", 0.0)).sum,
          sized.map(s => s.counts.parquetCreates * s.extra("size_limit")).sum),
        "ratio")) ++
    WarehouseVerbs.map(v => (s"warehouse.${v}_p50_ms", p50("warehouse", v), "ms")) ++
    Seq(
      ("warehouse.fs_ops_per_write",
        mean(writes.map(_.counts.fsOps.toDouble)), "count"),
      ("warehouse.fs_ops_per_read",
        mean(reads.map(_.counts.fsOps.toDouble)), "count"),
      ("warehouse.write_amplification",
        ratio(writes.map(_.counts.bytesWritten.toDouble).sum,
          writes.map(_.extra.getOrElse("input_bytes", 0.0)).sum), "ratio"),
      ("warehouse.files_read_per_scan",
        mean(reads.map(_.counts.parquetOpens.toDouble)), "count"),
      ("warehouse.rows_read_per_row_returned",
        ratio(reads.map(_.counts.recordsRead.toDouble).sum,
          reads.map(_.extra.getOrElse("rows", 0.0)).sum), "ratio"),
      ("warehouse.cache_entries", caches.map(_._1.toDouble).sum, "count"),
      ("warehouse.cache_bytes", caches.map(_._2.toDouble).sum, "bytes"),
      ("warehouse.live_files", layout.map(_._1.toDouble).sum, "count"),
      ("warehouse.generations_retained", layout.map(_._2.toDouble).sum, "count"),
      ("spark.jobs_per_read", mean(reads.map(_.counts.jobs.toDouble)), "count"),
      ("spark.jobs_per_write", mean(writes.map(_.counts.jobs.toDouble)), "count"),
      ("spark.jobs_per_curate_step",
        mean(extSteps.map(_.counts.jobs.toDouble)), "count"),
      ("spark.shuffle_mb_per_op", timed.shuffleBytes / 1048576.0 / perOp, "MB"),
      ("spark.tasks_per_op", timed.tasks / perOp, "count"),
      ("spark.plan_ms_per_read", mean(named("spark", "plan").map(_.ms)), "ms"),
      ("spark.task_busy_share",
        ratio(timed.taskRunMs.toDouble, wallS * 1000.0 * cores), "ratio"),
      ("jvm.gc_ms_per_op", gcMs / perOp, "ms"),
      ("ext.neardup_ms", p50("ext", "neardup"), "ms"),
      ("ext.neardup_jobs", mean(named("ext", "neardup").map(_.counts.jobs.toDouble)), "count"),
      ("ext.ivfpq_calibrate_ms", p50("ext", "ivfpq_calibrate"), "ms"),
      ("ext.ivfpq_calibrate_jobs",
        mean(named("ext", "ivfpq_calibrate").map(_.counts.jobs.toDouble)), "count"),
      ("ext.pagerank_ms", p50("ext", "pagerank"), "ms"),
      ("ext.pagerank_jobs", mean(named("ext", "pagerank").map(_.counts.jobs.toDouble)), "count"),
      ("ext.ann_query_ms", p50("ext", "ann_query"), "ms"))
  }
}
