package perfbench

/** The per-layer metric names a traced run prints; a layer a workload does
  * not touch reads 0. */
object Layers {
  val Modules: Seq[(String, Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame])] = {
    import graft.ops._
    Seq("Relational" -> Relational.queries, "Aggregations" -> Aggregations.queries,
      "Joins" -> Joins.queries, "Windows" -> Windows.queries,
      "ScalarFuncs" -> ScalarFuncs.queries, "Udfs" -> Udfs.queries,
      "StreamingAnalogs" -> StreamingAnalogs.queries, "Dedup" -> Dedup.queries,
      "TextSim" -> TextSim.queries, "Advanced" -> Advanced.queries,
      "Warehouse" -> Warehouse.queries, "ScaleOps" -> ScaleOps.queries,
      "TrainingOps" -> TrainingOps.queries, "Quality" -> Quality.queries,
      "Tpch" -> Tpch.queries, "Graph" -> Graph.queries, "Features" -> Features.queries,
      "Mining" -> Mining.queries, "Formats" -> Formats.queries)
  }

  val moduleOf: Map[String, String] =
    Modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  val Kernels: Seq[String] = Seq("MinHashSigs", "SimHashAgg", "GramSumsAgg",
    "HeavyHittersAgg", "SqDistL", "DotProductD")
  val KernelQueries: Seq[String] = Seq("q_dedup_simhash", "q_embed_pca", "q_topk_native")
  val StreamQueries: Seq[String] = RtStream.Names.map(RtStream.Short)
  val SelfLayers: Seq[String] = Seq("bench", "ops", "spark_plan", "lake", "feed", "stream", "expr")

  val all: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_overhead_s" -> "s", "spark.plan_s" -> "s", "spark.driver_only_s" -> "s",
      "spark.task_concurrency" -> "ratio", "spark.serial_stage_s" -> "s",
      "spark.input_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
      "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.gc_s" -> "s") ++
    Modules.flatMap { case (m, _) => Seq(s"ops.$m.wall_s" -> "s", s"ops.$m.jobs" -> "count") } ++
    Kernels.map(k => s"expr.$k.rows_per_s" -> "rows/s") ++
    KernelQueries.map(q => s"query.$q.wall_s" -> "s") ++
    Seq("lake.append_s", "lake.merge_s", "lake.delete_s", "lake.compact_s",
      "lake.maintain_s", "lake.latest_version_s", "lake.snapshot_s", "lake.stats_s",
      "lake.read_s", "lake.read_asof_s", "lake.read_pruned_s").map(_ -> "s") ++
    Seq("lake.pruned_file_ratio" -> "ratio", "lake.write_amp" -> "ratio",
      "lake.space_amp" -> "ratio", "lake.manifest_bytes" -> "bytes",
      "lake.read_changes_s" -> "s", "feed.dwd_drain_s" -> "s", "feed.dws_drain_s" -> "s",
      "feed.versions_per_drain" -> "count") ++
    StreamQueries.flatMap(q => Seq(s"stream.$q.trigger_ms" -> "ms",
      s"stream.$q.add_batch_ms" -> "ms", s"stream.$q.planning_ms" -> "ms",
      s"stream.$q.wal_commit_ms" -> "ms", s"stream.$q.state_rows" -> "count",
      s"stream.$q.state_mem_bytes" -> "bytes", s"stream.$q.state_commit_ms" -> "ms")) ++
    Seq("stream.backlog_files" -> "count", "stream.watermark_lag_s" -> "s",
      "stream.generator_late_s" -> "s", "stream.events_per_s_1core" -> "events/s") ++
    SelfLayers.map(l => s"self.${l}_s" -> "s")

  /** The per-layer metrics a workload's traced run prints: the stream ones,
    * and the benchmark's own time between triggers, only on rt_stream, the
    * one workload that runs streaming queries. */
  def of(workload: String): Seq[(String, String)] =
    if (workload == "rt_stream") all
    else all.filterNot { case (k, _) =>
      k.startsWith("stream.") || k == "self.stream_s" || k == "self.bench_s" }

  /** The layer of self-time accounting a span's layer label rolls up to. */
  def selfLayer(label: String): String =
    if (label.startsWith("ops.")) "ops"
    else if (label == "spark.plan") "spark_plan"
    else label

  /** Fills the Spark scheduler metrics and the self-time split from one
    * traced run, over the spans rooted at `roots`. */
  def sparkAndSelf(spans: Seq[Span], m: SparkMetrics, cores: Int,
      ops: Seq[Span], out: Outcome): Unit = {
    val t = m.total
    def put(k: String, v: Double): Unit = out.layer(k) = (v, out.layer(k)._2)
    put("spark.jobs", t.jobs.toDouble)
    put("spark.stages", t.stages.toDouble)
    put("spark.tasks", t.tasks.toDouble)
    put("spark.task_overhead_s", t.overheadNs / 1e9)
    put("spark.serial_stage_s", t.serialStageNs / 1e9)
    put("spark.input_bytes", t.inputBytes.toDouble)
    put("spark.shuffle_write_bytes", t.shuffleWrite.toDouble)
    put("spark.shuffle_read_bytes", t.shuffleRead.toDouble)
    put("spark.spill_bytes", t.spill.toDouble)
    put("spark.gc_s", t.gcNs / 1e9)
    val active = Stats.unionLength(t.jobIntervals.toSeq)
    put("spark.task_concurrency", if (active > 0) t.runNs.toDouble / (active.toDouble * cores) else 0.0)
    put("spark.plan_s", spans.filter(_.layer == "spark.plan").map(_.dur).sum / 1e9)
    // driver-only: the part of each operation span with none of its own
    // (or its descendants') jobs running
    put("spark.driver_only_s", ops.map { s =>
      val jobs = m.over(Tracer.subtree(spans, s.id)).jobIntervals.toSeq
      s.dur - Stats.coveredWithin(s.start, s.end, jobs)
    }.sum / 1e9)
    Tracer.selfByLayer(spans).groupBy { case (l, _) => selfLayer(l) }.foreach {
      case (l, xs) if SelfLayers.contains(l) => put(s"self.${l}_s", xs.values.sum / 1e9)
      case (l, _) => throw new IllegalStateException(s"span layer $l has no self-time bucket")
    }
  }
}
