package perfbench

/** Per-layer metrics of a traced run. Span times come from the traced
  * half; Spark job, stage, task and byte counts come from the untraced
  * half's first cycle of the mix (so they repeat exactly for a seed);
  * funnel counts come from the traced half's first cycle. Every metric
  * is reported for every workload; a layer a workload bypasses reads 0.
  */
object Layers {
  def perLayer(w: Workload, tr: Tracer, traced: Vector[Sample], plain: Vector[Sample],
      rollup: Rollup, dataMs: Seq[Double], e2e: Map[String, Double]): Map[String, Double] = {
    val n = traced.size.toDouble
    val cycle = w.cycle.size
    val self = tr.selfNs
    val firstTraced = traced.take(cycle).map(_.id).toSet
    def spans(name: String, firstOnly: Boolean = false) =
      tr.spans.filter(s => s.name == name && (!firstOnly || firstTraced(s.request)))
    def selfMs(name: String) = spans(name).map(s => self(s.id)).sum / 1e6 / n
    def slice(names: Seq[String], firstOnly: Boolean = false) = {
      val groups = names.flatMap(spans(_, firstOnly)).map(_.group).toSet
      rollup.snapshot(groups)
    }
    def count(label: String) =
      tr.counts.collect { case ((r, `label`), c) if firstTraced(r) => c }.sum.toDouble / cycle
    val plainFirst = plain.take(cycle)
    val firstSlice = {
      val ids = plainFirst.map(s => s"r${s.id}/").toSet
      rollup.snapshot(g => ids(g.take(g.indexOf('/') + 1)))
    }
    val plainAll = plain.map(Main.requestSlice(rollup, _))
    val text = slice(Seq("Text.filter", "Text.pii"))
    val docsIn = tr.counts.collect { case ((_, "docs_in"), c) => c }.sum
    val (hits, over) = plainAll.map(_.cacheHits).foldLeft((0, 0)) {
      case ((a, b), (c, d)) => (a + c, b + d) }
    val byType = (ss: Vector[Sample]) =>
      Stats.geomean(ss.groupBy(_.req.kind).values.toSeq.map(x => Stats.median(x.map(_.ms))))
    val roots = tr.spans.filter(_.parent < 0)
    val layerNs = tr.spans.filter(s => s.parent >= 0 && !s.name.startsWith("bench."))
      .map(s => self(s.id)).sum
    val writeMs =
      if (spans("Tables.write").nonEmpty) selfMs("Tables.write")
      else if (w.setupLayer == "Tables.write_ms") Stats.median(dataMs) else 0.0
    // per span: its wall time with at least one of its own tasks running
    def busyMs(names: Seq[String]) = names.flatMap(spans(_)).map { s =>
      (s.endMs - s.startMs) - rollup.snapshot(_ == s.group).idleMs(s.startMs, s.endMs)
    }.sum
    val textDedup = Seq("Text.filter", "Text.pii", "Dedup.minHashKeep", "Dedup.contamination")
    val rolling = slice(Seq("Rolling.window"))
    val agg = slice(Seq("GroupBy.agg"))
    Map(
      "GroupBy.persist_ms" -> (if (w.setupLayer == "GroupBy.persist_ms") Stats.median(dataMs) else 0.0),
      "GroupBy.agg_ms" -> selfMs("GroupBy.agg"),
      "GroupBy.agg_cpu_ms" -> agg.cpuMs / n,
      "GroupBy.factorize_ms" -> (if (w.freshGroupBy) agg.shuffleMapStageMs / n else 0.0),
      // only a persisted GroupBy's blocks count (curation's held frames do not)
      "GroupBy.cache_hit_frac" ->
        (if (w.setupLayer != "GroupBy.persist_ms" || over == 0) 0.0 else hits.toDouble / over),
      "Rolling.window_ms" -> selfMs("Rolling.window"),
      "Rolling.spill_mb" -> rolling.spillMb / n,
      "Rolling.peak_exec_mb" -> rolling.peakExecMb,
      "Reshape.crosstab_ms" -> selfMs("Reshape.crosstab"),
      "Tables.write_ms" -> writeMs,
      "Tables.scan_ms" -> selfMs("Tables.scan"),
      // input bytes are not measurable: parquet's vectored reads run off the
      // task thread, so Spark's per-task bytesRead misses them; rows are exact
      "Tables.read_rows" -> slice(Seq("Tables.scan"), firstOnly = true).inputRecords.toDouble / cycle,
      "Text.filter_ms" -> selfMs("Text.filter"),
      "Text.pii_ms" -> selfMs("Text.pii"),
      "Text.cpu_us_per_doc" -> (if (docsIn == 0) 0.0 else text.cpuMs * 1000.0 / docsIn),
      "Text.c4_pass_docs" -> count("c4_pass"),
      "Text.pass_docs" -> count("gopher_pass"),
      "Dedup.minHashKeep_ms" -> selfMs("Dedup.minHashKeep"),
      "Dedup.contamination_ms" -> selfMs("Dedup.contamination"),
      "Dedup.shuffle_mb" ->
        slice(Seq("Dedup.minHashKeep", "Dedup.contamination"), firstOnly = true).shuffleWriteMb / cycle,
      "Dedup.kept_docs" -> count("dedup_kept"),
      "Dedup.contaminated_docs" -> count("contaminated"),
      "Sampling.mixture_ms" -> selfMs("Sampling.mixture"),
      "Sampling.jobs" -> slice(Seq("Sampling.mixture"), firstOnly = true).jobs.toDouble / cycle,
      "spark.jobs" -> firstSlice.jobs.toDouble / cycle,
      "spark.stages" -> firstSlice.stages.size.toDouble / cycle,
      "spark.tasks" -> firstSlice.tasks.size.toDouble / cycle,
      "spark.driver_ms" -> Stats.median(plain.zip(plainAll).map { case (s, sl) =>
        sl.idleMs(s.startMs, s.endMs) }),
      "spark.driver_share" -> Stats.median(plain.zip(plainAll).map { case (s, sl) =>
        sl.idleMs(s.startMs, s.endMs) / math.max(1L, s.endMs - s.startMs) }),
      "spark.task_skew" -> Stats.median(plainAll.map(_.taskSkew)),
      "spark.shuffle_write_mb" -> firstSlice.shuffleWriteMb / cycle,
      "spark.shuffle_read_mb" -> firstSlice.shuffleReadMb / cycle,
      "spark.spill_mb" -> plainAll.map(_.spillMb).sum / plain.size,
      "spark.gc_ms" -> plainAll.map(_.gcMs).sum / plain.size,
      "spark.task_retries" -> {
        val t = plainAll.map(_.tasks.size).sum
        if (t == 0) 0.0 else plainAll.map(_.retried).sum.toDouble / t
      },
      "bench.trace_overhead_pct" -> 100.0 * (byType(traced) / byType(plain) - 1.0),
      "bench.layer_share" -> layerNs.toDouble / roots.map(s => s.endNs - s.startNs).sum,
      "bench.text_dedup_busy_share" ->
        busyMs(textDedup) / math.max(1L, roots.map(s => s.endMs - s.startMs).sum),
      "latency_tail_ms" -> e2e("latency_tail_ms"),
      "cache_mb" -> e2e("cache_mb"),
      "failed_frac" -> e2e("failed_frac"))
  }
}
