package perfbench

import org.apache.spark.sql.functions._

/** Medians and tail percentiles over a run's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Start another sample if one more of median length still ends by
   * the deadline (System.nanoTime). The first two are always taken: a
   * one-sample median follows every stall of a shared host, and a traced
   * run needs one traced and one untraced sample to measure the overhead. */
  def another(done: Seq[Double], deadline: Long): Boolean =
    done.size < MinSamples || System.nanoTime() + median(done) * 1e9 <= deadline
  val MinSamples = 2

  /** The highest percentile with at least ten samples beyond it, as
   * (percentile, value); with 10 samples or fewer there is none, and the
   * maximum (p100) is reported instead. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted; val n = s.size
    if (n <= 10) (100, s.last)
    else {
      val p = ((n - 10) * 100) / n // ceil(p/100 * n) <= n - 10
      (p, s(math.max(0, math.ceil(p / 100.0 * n).toInt - 1)))
    }
  }
}

/** Per-layer metrics, by name and unit, for the traced runs. */
object SeqLayers {
  val UpdateNames: Seq[(String, String)] = Seq(
    "sources.read_ms" -> "ms", "sources.rows" -> "count", "sources.jobs" -> "count",
    "changebatch.classify_ms" -> "ms", "changebatch.closure_ms" -> "ms",
    "changebatch.compacted_rows" -> "count", "changebatch.dirty_ways" -> "count",
    "changebatch.dirty_ways_per_dirty_node" -> "ratio",
    "deltaapply.merge_expect_ms" -> "ms", "deltaapply.merge_ms" -> "ms",
    "deltaapply.rows_deleted" -> "count", "deltaapply.rows_upserted" -> "count",
    "deltaapply.shuffle_mb" -> "MB",
    "geometrybuild.rebuild_ms" -> "ms", "geometrybuild.rows" -> "count",
    "lineage.init_ms" -> "ms", "lineage.write_ms" -> "ms", "lineage.bytes_written_mb" -> "MB",
    "lineage.files_written" -> "count", "lineage.rows_written" -> "count",
    "lineage.rewrite_ratio" -> "ratio", "lineage.rewrite_share_pct" -> "%", "lineage.read_ms" -> "ms", "lineage.bytes_read_mb" -> "MB",
    "update.wall_ms" -> "ms", "update.jobs" -> "count", "update.stages" -> "count",
    "update.tasks" -> "count", "update.plan_ms" -> "ms", "update.task_busy_ms" -> "ms",
    "update.task_cpu_ms" -> "ms", "update.gc_ms" -> "ms", "update.spill_mb" -> "MB",
    "update.shuffle_write_mb" -> "MB", "update.fetch_wait_ms" -> "ms",
    "update.driver_idle_ms" -> "ms", "update.core_util" -> "ratio",
    "update.failed_tasks" -> "count", "update.attribution_gap_pct" -> "%")

  val QueryFields: Seq[(String, String)] = Seq(
    "rows_out" -> "count", "candidates" -> "count", "refine_pass_ratio" -> "ratio",
    "shuffle_mb" -> "MB", "broadcast_mb" -> "MB", "spill_mb" -> "MB", "task_busy_ms" -> "ms",
    "plan_ms" -> "ms", "jobs" -> "count", "core_util" -> "ratio", "self_ms" -> "ms")

  val QueryNames: Seq[(String, String)] =
    for (q <- Layers.Queries; (f, u) <- QueryFields) yield (s"spatialjoins.$q.$f", u)

  /** Every per-layer metric name, in report order; a workload reports 0
   * for the layers it does not run. */
  val All: Seq[(String, String)] = UpdateNames ++ QueryNames

  /** Median of each metric over traced samples, zeros filled in. */
  def medians(per: Seq[Map[String, Double]]): Seq[(String, Metric)] =
    All.map { case (n, u) =>
      val xs = per.flatMap(_.get(n)).filterNot(_.isNaN)
      n -> Metric(if (xs.isEmpty) 0.0 else Stats.median(xs), u)
    }

  private def ms(js: Seq[Layers.AJob], b: String) =
    Layers.unionMs(js.filter(_.bucket == b).map(j => (j.job.startMs, j.job.endMs)))

  /** Per-layer metrics of one traced sequence. */
  def of(ctx: Ctx, loop: Updates.Loop, r: Updates.SeqRun): Map[String, Double] = {
    val st = ctx.strace
    val (root, js) = Layers.attribute(r.trace, ctx.tracer, st)
    val wall = root.endMs - root.startMs
    val busy = Layers.unionMs(js.map(j => (j.job.startMs, j.job.endMs)))
    val attributed = Layers.UpdateBuckets.map(ms(js, _)).sum
    val idle = wall - busy
    val all = Layers.tasks(js, st)
    def of(b: String*) = js.filter(j => b.contains(j.bucket))
    val counters = loop.store.readStats(ctx.spark, r.seq).filter(col("kind") === "counter")
      .select("name", "value").collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val compacted = counters.filterNot(_._1.startsWith("seq_")).values.sum.toDouble
    val (seqBytes, seqFiles) = Updates.dirBytes(loop.storeDir.resolve(s"seq=${r.seq}"))
    val writes = Layers.sqlMetric(js, "Write.numOutputRows").sum.toDouble
    val rebuildRows = Layers.sqlMetric(of("geometrybuild.rebuild"), "Write.numOutputRows")
    val dirtyWays = rebuildRows.headOption.getOrElse(0L).toDouble
    val closure = Layers.sqlMetric(of("geometrybuild.rebuild"), "BroadcastExchange.collectTime")
    Map(
      "sources.read_ms" -> ms(js, "sources.read"),
      "sources.rows" -> loop.sourceRows.getOrElse(r.seq, 0L).toDouble,
      "sources.jobs" -> of("sources.read").size.toDouble,
      "changebatch.classify_ms" -> ms(js, "changebatch.classify"),
      "changebatch.closure_ms" -> (if (closure.isEmpty) 0.0 else closure.max.toDouble),
      "changebatch.compacted_rows" -> compacted,
      "changebatch.dirty_ways" -> dirtyWays,
      "changebatch.dirty_ways_per_dirty_node" -> (if (r.dirtyNodes == 0) 0.0 else dirtyWays / r.dirtyNodes),
      "deltaapply.merge_expect_ms" -> ms(js, "deltaapply.merge_expect"),
      "deltaapply.merge_ms" -> ms(js, "deltaapply.merge"),
      "deltaapply.rows_deleted" -> counters.getOrElse(s"seq_${r.seq}_rows_deleted", 0L).toDouble,
      "deltaapply.rows_upserted" -> counters.getOrElse(s"seq_${r.seq}_rows_upserted", 0L).toDouble,
      "deltaapply.shuffle_mb" -> Layers.tasks(of("deltaapply.merge", "deltaapply.merge_expect"), st).shuffleMb,
      "geometrybuild.rebuild_ms" -> ms(js, "geometrybuild.rebuild"),
      "geometrybuild.rows" -> dirtyWays,
      "lineage.init_ms" -> ms(js, "lineage.init"),
      "lineage.write_ms" -> ms(js, "lineage.write"),
      "lineage.bytes_written_mb" -> seqBytes / 1048576.0,
      "lineage.files_written" -> seqFiles.toDouble,
      "lineage.rows_written" -> writes,
      "lineage.rewrite_ratio" -> (if (compacted == 0) 0.0 else writes / compacted),
      // the snapshot-sized work: MERGE expectation, MERGE + checkpoint, writes
      "lineage.rewrite_share_pct" -> 100.0 * (ms(js, "deltaapply.merge_expect") + ms(js, "deltaapply.merge") +
        ms(js, "lineage.write")) / wall,
      "lineage.read_ms" -> ms(js, "lineage.read"),
      "lineage.bytes_read_mb" -> all.inputMb,
      "update.wall_ms" -> wall,
      "update.jobs" -> all.jobs.toDouble, "update.stages" -> all.stages.toDouble,
      "update.tasks" -> all.tasks.toDouble, "update.plan_ms" -> all.planMs,
      "update.task_busy_ms" -> all.busyMs, "update.task_cpu_ms" -> all.cpuMs,
      "update.gc_ms" -> all.gcMs, "update.spill_mb" -> all.spillMb,
      "update.shuffle_write_mb" -> all.shuffleMb, "update.fetch_wait_ms" -> all.fetchWaitMs,
      "update.driver_idle_ms" -> idle, "update.core_util" -> all.busyMs / (wall * 4),
      "update.failed_tasks" -> all.failed.toDouble,
      "update.attribution_gap_pct" -> 100.0 * math.abs(attributed + idle - wall) / wall)
  }

  /** A traced run's per-layer report: medians over the traced samples,
   * and the tracing overhead as traced minus untraced median wall time. */
  def report(ctx: Ctx, per: Seq[Map[String, Double]], traced: Seq[Double],
             untraced: Seq[Double]): Seq[(String, Metric)] = {
    val overheadS = if (traced.isEmpty || untraced.isEmpty) 0.0 else Stats.median(traced) - Stats.median(untraced)
    medians(per) ++ Seq(
      "trace.overhead_s" -> Metric(overheadS, "s"),
      "trace.traced_sequences" -> Metric(per.size, "count"),
      "trace.listener_ms" -> Metric(ctx.strace.callbackNs / 1e6, "ms"),
      "trace.attribution_max_gap_pct" ->
        Metric(per.map(_("update.attribution_gap_pct")).maxOption.getOrElse(0.0), "%"))
  }

  /** The traced run's attribution check: for every traced sequence or
   * round, layer time plus driver idle time is within 10% of its wall. */
  def attributionCheck(perLayer: Seq[(String, Metric)]): Seq[(String, Boolean, String)] =
    perLayer.collectFirst { case ("trace.attribution_max_gap_pct", m) =>
      ("layer time + driver idle within 10% of wall", m.value <= 10.0, f"worst gap ${m.value}%.2f%%")
    }.toSeq

  /** Listener events arrive asynchronously; wait until the bus is idle. */
  def waitForListener(ctx: Ctx): Unit =
    org.apache.spark.sql.execution.ui.PerfbenchAccess.drain(ctx.spark.sparkContext)
}
