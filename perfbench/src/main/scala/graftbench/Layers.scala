package graftbench

/** The per-layer metrics of a traced run. Every workload reports the
  * declared list in its result line, a layer it never calls reading 0.
  */
object Layers {
  val declared: Seq[(String, String)] = Seq(
    "GraftSession.start_s" -> "s", "GraftSession.warmup_s" -> "s",
    "GraphStore.save_s" -> "s", "GraphStore.text_parse_s" -> "s", "GraphStore.upsert_s" -> "s",
    "GraphStore.load_s" -> "s", "GraphStore.files_per_snapshot" -> "count",
    "GraphStore.bytes_per_edge" -> "B/edge", "GraphStore.overlap_reads" -> "count",
    "GraphStore.overlap_read_failures" -> "count",
    "GraphOps.bfs_s" -> "s", "GraphOps.reach_s" -> "s", "GraphOps.leaves_s" -> "s",
    "GraphOps.preorder_s" -> "s", "GraphOps.cc_s" -> "s", "GraphOps.local_share" -> "ratio",
    "GraphOps.levels" -> "count", "GraphOps.s_per_level" -> "s",
    "GraphOps.edges_touched" -> "count", "GraphOps.edges_per_s" -> "edges/s",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.jobs_per_level" -> "count", "spark.job_s_per_level" -> "s",
    "spark.executor_run_s" -> "s", "spark.scheduler_delay_s" -> "s",
    "spark.deserialize_s" -> "s", "spark.gc_s" -> "s", "spark.busy_share" -> "ratio",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.input_bytes" -> "B",
    "jvm.heap_peak_mb" -> "MB", "jvm.peak_rss_mb" -> "MB",
    "ops.read_p90_s" -> "s", "ops.write_p90_s" -> "s", "ops.reads" -> "count", "ops.writes" -> "count",
    "ops.failed_frac" -> "ratio",
    "analytics.cold_query_s" -> "s", "analytics.warm_query_s" -> "s",
    "Materialized.first_touch_s" -> "s", "Materialized.disk_bytes" -> "B") ++
    Analytics.Families.flatMap(f => Seq(s"$f.cold_s" -> "s", s"$f.warm_s" -> "s")) ++ Seq(
    "streaming.memory_sink_s" -> "s", "streaming.file_sink_s" -> "s", "similarity.opq_cold_s" -> "s",
    "trace.spans" -> "count", "trace.overhead_share" -> "ratio")

  /** Median duration of the spans named `name` recorded inside timed
    * operations, or with `timed = false`, outside them (set-up).
    */
  def spanMedian(ctx: Context, name: String, timed: Boolean = true): Double =
    Stats.median(ctx.tracer.all.filter(s => s.name == name && (s.op != 0) == timed).map(_.seconds))

  /** Layer metrics every workload shares: session start, the listener's
    * per-operation task totals, heap and the tracer's own cost. Times and
    * bytes are per operation; `busy_share` is executor run time over
    * timed wall time × cores.
    */
  def common(ctx: Context, setup: Seq[(Double, Double, Double)], wall: Double): Metrics = {
    val m = new Metrics
    m.put("GraftSession.start_s", "s", Stats.median(setup.map(_._2)))
    m.put("GraftSession.warmup_s", "s", Stats.median(setup.map(_._3)))
    val nOps = ctx.records.size.toDouble
    ctx.stats.foreach { st =>
      val t = st.sum(_.startsWith("op:"))
      m.put("spark.jobs_per_op", "count", Stats.ratio(t.jobs, nOps))
      m.put("spark.stages_per_op", "count", Stats.ratio(t.stages, nOps))
      m.put("spark.tasks_per_op", "count", Stats.ratio(t.tasks, nOps))
      m.put("spark.executor_run_s", "s", Stats.ratio(t.runMs / 1e3, nOps))
      m.put("spark.scheduler_delay_s", "s", Stats.ratio(t.schedulerDelayMs / 1e3, nOps))
      m.put("spark.deserialize_s", "s", Stats.ratio(t.deserializeMs / 1e3, nOps))
      m.put("spark.gc_s", "s", Stats.ratio(t.gcMs / 1e3, nOps))
      m.put("spark.busy_share", "ratio", Stats.ratio(t.runMs / 1e3, wall * Main.Cores))
      m.put("spark.shuffle_read_bytes", "B", Stats.ratio(t.shuffleRead, nOps))
      m.put("spark.shuffle_write_bytes", "B", Stats.ratio(t.shuffleWrite, nOps))
      m.put("spark.spill_bytes", "B", Stats.ratio(t.spill, nOps))
      m.put("spark.input_bytes", "B", Stats.ratio(t.input, nOps))
    }
    m.put("jvm.heap_peak_mb", "MB", Jvm.heapPeakMb)
    m.put("trace.spans", "count", ctx.tracer.all.size)
    val overheadS = ctx.tracer.bookkeepingNs / 1e9 + ctx.stats.map(_.callbackSeconds).getOrElse(0.0)
    m.put("trace.overhead_share", "ratio", Stats.ratio(overheadS, wall))
    m
  }

  /** The declared list, filled from `measured`. */
  def declaredOnly(measured: Metrics): Metrics = {
    val out = new Metrics
    declared.foreach { case (n, u) =>
      out.put(n, u, if (measured.names.contains(n)) measured.get(n) else 0.0)
    }
    out
  }
}
