package graftbench

/** The metric lists the benchmark prints. `BENCHMARK.json` must list the
  * same names and units (the self-test compares them).
  */
object Metrics {

  /** Printed by every untraced run, on every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "first_op_s" -> "s",
    "op_p50_ms" -> "ms",
    "commit_p50_ms" -> "ms",
    "items_per_s" -> "1/s",
    "peak_rss_mb" -> "MB",
    "verified_ratio" -> "ratio")

  def endToEnd(o: Outcome): Seq[(String, String, Double)] = {
    val values = Map(
      "setup_s" -> o.setupS,
      "first_op_s" -> o.firstOpS,
      "op_p50_ms" -> Stats.median(o.opMs),
      "commit_p50_ms" -> Stats.median(o.commitMs),
      "items_per_s" -> o.items / o.itemsWallS,
      "peak_rss_mb" -> o.peakRssMb,
      "verified_ratio" -> (o.attempted - o.failed).toDouble / o.attempted)
    EndToEnd.map { case (n, u) => (n, u, values(n)) }
  }

  /** Layers a job can be charged to that get the full per-unit stat set. */
  val Units: Seq[String] =
    Seq("extract", "link", "prune", "canon", "rules", "pipeline", "query", "graph", "ops")

  val UnitStats: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "wall_s" -> "s",
    "busy_s" -> "s", "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "failed_tasks" -> "count")

  /** Snapshot tables whose write gets its own wall time. */
  val CommitTables: Seq[String] = Seq("edges_tagged", "concepts", "edges", "canon_map",
    "rules", "code_examples", "pages_text", "lineage", "lineage_prune", "factors",
    "corpus_signatures")

  /** Printed by every traced run, on every workload; 0 where the workload
    * never reaches the layer.
    */
  val PerLayer: Seq[(String, String)] =
    Units.flatMap(u => UnitStats.map { case (s, unit) => s"$u.$s" -> unit }) ++
      Seq("store.jobs" -> "count", "store.wall_s" -> "s", "other.wall_s" -> "s") ++
      Seq("jobs" -> "count", "busy_s" -> "s", "shuffle_write_bytes" -> "bytes",
        "spill_bytes" -> "bytes").map { case (s, u) => s"commit.edges_tagged.$s" -> u } ++
      CommitTables.map(t => s"commit.$t.wall_s" -> "s") ++
      Seq(
        "prune.task_skew" -> "ratio",
        "store.commits" -> "count",
        "store.commit_s" -> "s",
        "store.bytes_written" -> "bytes",
        "store.bytes_per_input_byte" -> "ratio",
        "pipeline.span_s" -> "s",
        "pipeline.idle_s" -> "s",
        "pipeline.accounted_ratio" -> "ratio",
        "query.jobs_per_call" -> "count",
        "query.tasks_per_call" -> "count",
        "query.driver_ms_per_call" -> "ms",
        "graph.ppr_ms_per_call" -> "ms",
        "rules.bundle_ms_per_call" -> "ms",
        "graph.prepare_s" -> "s",
        "serve.cached_rdds_first" -> "count",
        "serve.cached_rdds_last" -> "count",
        "serve.storage_mb_first" -> "MB",
        "serve.storage_mb_last" -> "MB",
        "ops.clusters_s" -> "s",
        "ops.contamination_s" -> "s",
        "ops.incremental_s" -> "s",
        "link.resolved_ratio" -> "ratio",
        "prune.kept_ratio" -> "ratio",
        "canon.merge_ratio" -> "ratio",
        "ops.dup_ratio" -> "ratio",
        "trace.op_p50_ms" -> "ms")

  def perLayer(values: Seq[(String, Double)]): Seq[(String, String, Double)] = {
    val m = values.toMap
    val unknown = m.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"per-layer values outside the declared list: $unknown")
    PerLayer.map { case (n, u) => (n, u, m.getOrElse(n, 0.0)) }
  }

  /** Per-unit stats, commit walls and store totals of one trace window,
    * each divided by `perOps` (the number of timed operations).
    */
  def unitLayer(w: TraceWindow, perOps: Double, inputBytes: Double): Seq[(String, Double)] = {
    val units = Units.flatMap(u => w.unitStats(u).map { case (s, v) => s"$u.$s" -> v / perOps })
    val store = w.unitStats("store").toMap
    val edgesTagged = w.unitStats("commit.edges_tagged").toMap
    val commitUnits = w.units.filter(Attribution.isCommit)
    val bytes = w.commitBytes / perOps
    val known = (Units ++ Seq("store") ++ w.units.filter(Attribution.isCommit)).toSet
    units ++ Seq(
      "store.jobs" -> store("jobs") / perOps,
      "store.wall_s" -> store("wall_s") / perOps,
      "other.wall_s" -> w.units.filterNot(known).map(u => w.wallS(Some(u))).sum / perOps) ++
      Seq("jobs", "busy_s", "shuffle_write_bytes", "spill_bytes")
        .map(s => s"commit.edges_tagged.$s" -> edgesTagged(s) / perOps) ++
      CommitTables.map(t => s"commit.$t.wall_s" -> w.wallS(Some(s"commit.$t")) / perOps) ++
      Seq(
        "prune.task_skew" -> w.taskSkew("commit.edges_tagged"),
        "store.commits" ->
          w.jobs.filter(j => Attribution.isCommit(j.unit)).map(_.exec).distinct.size / perOps,
        "store.commit_s" -> commitUnits.map(u => w.wallS(Some(u))).sum / perOps,
        "store.bytes_written" -> bytes,
        "store.bytes_per_input_byte" -> (if (inputBytes > 0) bytes / inputBytes else 0.0))
  }

  /** The record's `job_frames`: jobs and wall per (unit, innermost frame),
    * heaviest first, so an attribution can be traced to the code.
    */
  def framesJson(w: TraceWindow): String =
    Json.arr(w.jobs.groupBy(j => (j.unit, j.frame)).toSeq
      .map { case ((u, f), js) => (u, f, js.size, Stats.unionLength(js.map(j => (j.start, j.end)))) }
      .sortBy(-_._4)
      .map { case (u, f, n, ms) =>
        Json.obj(Seq("unit" -> Json.str(u), "frame" -> Json.str(f), "jobs" -> n.toString,
          "wall_s" -> Json.num(ms / 1000.0)))
      })
}
