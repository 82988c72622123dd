package graftbench

/** Reduces a traced run's spans, listener aggregates and workload
  * samples to the per-layer metrics. Every metric is written on every
  * workload; a figure whose operation kind the workload never runs reads
  * 0. */
object Layers {
  /** Operation kinds as the per-layer names spell them. */
  private val ExecKinds = Seq("range", "join", "commit", "probe", "mutation")
  private val CommitNames = Seq("append", "stream_batch", "delete_by_key", "upsert_by_key",
    "sql_update", "sql_delete", "path_sql_update", "merge", "compact", "expire")
  private val ProbeNames = Seq("bm25", "ivfpq", "hybrid")
  private val MutationNames = for (i <- Seq("bm25", "ivf"); v <- Seq("append", "remove", "upsert")) yield s"${i}_$v"

  def compute(t: Tracer, ctx: Ctx): Seq[(String, Double, String)] = {
    val l = t.listener.get
    def agg(s: Span) = l.byOp.get(s.opId)
    def perOp(kind: String)(f: Span => Double): Double = Stats.mean(t.ops(kind).map(f))
    def counter(ss: Seq[Span], k: String): Seq[Double] = ss.flatMap(_.counters.get(k))
    def childMs(kind: String, name: String): Seq[Double] = {
      val ids = t.ops(kind).map(_.id).toSet
      t.spans.filter(s => ids.contains(s.parent) && s.name == name).map(_.ms).toSeq
    }
    def p50(kind: String, name: String, phase: String = "run"): Double =
      Stats.median(t.ops(kind, name, phase).map(_.ms))
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val out = Seq.newBuilder[(String, Double, String)]

    for (k <- ExecKinds) {
      out += ((s"exec.jobs_per_$k", perOp(k)(s => agg(s).map(_.jobs.toDouble).getOrElse(0.0)), "count"))
      out += ((s"exec.stages_per_$k", perOp(k)(s => agg(s).map(_.stages.toDouble).getOrElse(0.0)), "count"))
      out += ((s"exec.task_cpu_ms_per_$k", perOp(k)(s => agg(s).map(_.cpuNs / 1e6).getOrElse(0.0)), "ms"))
    }
    for (k <- Seq("join", "commit", "mutation"))
      out += ((s"exec.shuffle_bytes_per_$k",
        perOp(k)(s => agg(s).map(_.shuffleBytes.toDouble).getOrElse(0.0)), "bytes"))
    for (k <- Seq("commit", "probe", "mutation"))
      out += ((s"exec.jobless_ms_per_$k", perOp(k)(t.joblessMs), "ms"))
    val runOps = t.spans.filter(s => s.parent < 0 && s.phase == "run")
    out += (("exec.spill_bytes", runOps.flatMap(agg).map(_.spillBytes.toDouble).sum, "bytes"))

    val ranges = t.ops("range")
    out += (("plans.plan_ms_range", Stats.median(childMs("range", "plan")), "ms"))
    out += (("plans.plan_ms_join", Stats.median(childMs("join", "plan")), "ms"))
    out += (("plans.bbox_pushed_share", Stats.mean(counter(ranges, "bbox_pushed")), "fraction"))
    out += (("plans.rewritten_join_share", Stats.mean(counter(t.ops("join"), "rewritten")), "fraction"))
    out += (("plans.hybrid_shuffle_joins",
      Stats.mean(counter(t.ops("probe", "hybrid_probe"), "shuffle_joins")), "count"))

    out += (("tables.manifest_read_ms",
      Stats.median(ctx.samples.get("tables.manifest_read_ms").toSeq.flatten), "ms"))
    out += (("tables.files_kept_per_range", Stats.mean(counter(ranges, "files_kept")), "count"))
    out += (("tables.file_keep_ratio",
      ratio(counter(ranges, "files_kept").sum, counter(ranges, "files_total").sum), "fraction"))
    out += (("tables.rows_scanned_per_row_returned",
      ratio(ranges.flatMap(agg).map(_.inputRecords.toDouble).sum, counter(ranges, "rows_returned").sum),
      "ratio"))
    out += (("tables.scan_bytes_per_range",
      perOp("range")(s => agg(s).map(_.inputBytes.toDouble).getOrElse(0.0)), "bytes"))
    out += (("tables.files_kept_per_probe", Stats.mean(counter(t.ops("probe"), "files_kept")), "count"))
    val reads = Seq("range", "join", "read", "probe").flatMap(k => t.ops(k))
    out += (("tables.sidecar_cache_misses_per_read",
      Stats.mean(counter(reads, "sidecar_cache_misses")), "count"))
    out += (("tables.live_delete_files", ctx.layer.getOrElse("tables.live_delete_files", 0.0), "count"))

    for (n <- CommitNames) out += ((s"tables.${n}_ms", p50("commit", n), "ms"))
    val commits = t.ops("commit") ++ t.ops("mutation")
    out += (("tables.files_added_per_commit", Stats.mean(counter(commits, "files_added")), "count"))
    out += (("tables.metadata_bytes_per_commit", Stats.mean(counter(commits, "metadata_bytes")), "bytes"))
    for (k <- Seq("live_files", "data_bytes", "metadata_bytes"))
      out += ((s"tables.$k", ctx.layer.getOrElse(s"tables.$k", 0.0),
        if (k == "live_files") "count" else "bytes"))
    for (k <- Seq("read_ops", "write_ops", "bytes_written"))
      out += ((s"fs.${k}_per_commit", Stats.mean(counter(commits, s"fs.$k")),
        if (k == "bytes_written") "bytes" else "count"))

    val cleanMs = p50("corpus", "CorpusPipeline.clean", "setup")
    val dedupMs = p50("corpus", "Dedup.exact", "setup")
    val bm25Build = p50("build", "TextAnalysis.buildTextIndex", "setup")
    val ivfBuild = p50("build", "Similarity.buildIvfPqIndex", "setup")
    out += (("ops.clean_ms", cleanMs, "ms"))
    out += (("ops.dedup_ms", dedupMs, "ms"))
    out += (("ops.bm25_build_ms", bm25Build, "ms"))
    out += (("ops.ivfpq_build_ms", ivfBuild, "ms"))
    for (p <- ProbeNames) out += ((s"ops.${p}_probe_ms", p50("probe", s"${p}_probe"), "ms"))
    for (m <- MutationNames) out += ((s"ops.${m}_ms", p50("mutation", m), "ms"))
    out += (("ops.index_bytes", ctx.layer.getOrElse("ops.index_bytes", 0.0), "bytes"))

    out += (("geom.wkb_decode_ns", ctx.layer.getOrElse("geom.wkb_decode_ns", 0.0), "ns"))

    val ingest = t.ops("commit").filter(_.counters.getOrElse("rows_in", 0.0) > 0)
    out += (("ingest_rows_per_s",
      ratio(counter(ingest, "rows_in").sum, ingest.map(_.ms).sum / 1e3), "rows/s"))
    out += (("stored_bytes_per_live_byte", ctx.layer.getOrElse("stored_bytes_per_live_byte", 0.0), "ratio"))
    out += (("corpus_docs_per_s",
      ratio(Stats.median(ctx.samples.get("corpus_docs").toSeq.flatten), (cleanMs + dedupMs) / 1e3),
      "docs/s"))
    out += (("index_build_s", (bm25Build + ivfBuild) / 1e3, "s"))
    out += (("recall_at_10", Stats.mean(ctx.samples.get("recall_at_10").toSeq.flatten), "fraction"))
    out.result()
  }
}
