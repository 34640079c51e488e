package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * Per-layer attribution of one traced sequence or query round.
 *
 * Every Spark job submitted under the trace's spans is given to exactly one
 * layer: by the innermost `graft.*` frame of its SQL execution's call site
 * (or of its first stage's, for non-SQL jobs), and, where the engine frame
 * says nothing (the benchmark's own actions on an engine result), by the
 * benchmark span it ran under. A layer's time is the union of its jobs'
 * intervals; the driver's idle time is the root span's wall minus the
 * union of all job intervals. Both writeTable calls run under one call
 * site, so their jobs are split by the table the execution writes.
 */
object Layers {
  /** Time buckets of an update sequence, in pipeline order. */
  val UpdateBuckets = Seq("sources.read", "changebatch.classify", "deltaapply.merge_expect",
    "deltaapply.merge", "geometrybuild.rebuild", "lineage.init", "lineage.write", "lineage.read")
  val Queries = Seq("pip", "knn", "dist", "tile")

  /** Innermost graft.* frame of a call site, with Scala's object and
   * closure name mangling removed ("graft.ops.DeltaApply.mergeMetrics"). */
  def frame(details: String): String =
    Option(details).getOrElse("").linesIterator.map(_.trim).find(_.startsWith("graft."))
      .map(_.replace("$anonfun$", "").replace("$.", ".")).getOrElse("")

  // the table a write execution names in its formatted plan's command
  // arguments: <root>/seq=N/<table> or <root>/seq=N/lineage/...
  private val Written = """Arguments: \S*/seq=\d+/(\w+)""".r
  private def tableOf(plan: String): String =
    Written.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")

  def bucket(frame: String, table: String, span: String): String = {
    def is(p: String) = frame.startsWith(p)
    if (is("graft.sources.")) "sources.read"
    else if (is("graft.lineage.RunStatistics.countBatch")) "changebatch.classify"
    else if (is("graft.ops.DeltaApply.mergeMetrics")) "deltaapply.merge_expect"
    else if (is("graft.lineage.UpdateJob.applySeq") || is("graft.ops.DeltaApply")) "deltaapply.merge"
    else if (is("graft.lineage.SnapshotStore.writeTable"))
      if (table == "dirty_way_geoms") "geometrybuild.rebuild" else "lineage.write"
    else if (is("graft.ops.GeometryBuild")) "geometrybuild.rebuild"
    else if (is("graft.lineage.SnapshotStore.writeStats") || is("graft.lineage.RunStatistics"))
      "lineage.write"
    else if (is("graft.lineage.UpdateJob.run")) "lineage.init"
    else if (is("graft.lineage.SnapshotStore")) "lineage.read"
    else if (span.startsWith("spatialjoins.")) span
    else if (span == "sources.read") "sources.read"
    else if (span == "store.readTable") "lineage.read"
    else "unattributed"
  }

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** One job with the layer it was given. */
  final case class AJob(job: JobRec, bucket: String, exec: Option[ExecRec], span: Span)

  /** Attribute the jobs of trace `trace`, whose root span is `root`. */
  def attribute(trace: Long, tracer: Tracer, st: SparkTrace): (Span, Seq[AJob]) = {
    val spans = tracer.spans.filter(_.trace == trace)
    val byId = spans.map(s => s.id -> s).toMap
    val root = spans.find(_.parent == 0L).get
    // a job under a query's span (or a span nested in it) names that query
    def spanName(s: Span): String = {
      var cur = s
      while (!cur.name.startsWith("spatialjoins.") && byId.contains(cur.parent)) cur = byId(cur.parent)
      if (cur.name.startsWith("spatialjoins.")) cur.name else s.name
    }
    val jobs = st.jobs.values.asScala.filter(j => byId.contains(j.span)).toSeq.sortBy(_.startMs)
    // table of each writeTable execution; its checkpoint execution (no
    // path in its plan) belongs to the data write that follows it
    val execs = jobs.flatMap(j => Option(st.execs.get(j.execId))).distinct.sortBy(_.startMs)
    val table = mutable.Map.empty[Long, String]
    var next = ""
    execs.reverseIterator.foreach { x =>
      if (frame(x.details).startsWith("graft.lineage.SnapshotStore.writeTable")) {
        val t = tableOf(x.plan)
        if (t.nonEmpty && t != "lineage") next = t
        table(x.execId) = if (t.isEmpty) next else t
      }
    }
    val out = jobs.map { j =>
      val x = Option(st.execs.get(j.execId))
      val f = x.map(e => frame(e.details)).filter(_.nonEmpty).getOrElse(
        j.stages.headOption.flatMap(id => Option(st.stages.get(id))).map(s => frame(s.details)).getOrElse(""))
      val sp = byId(j.span)
      AJob(j, bucket(f, x.flatMap(e => table.get(e.execId)).getOrElse(""), spanName(sp)), x, sp)
    }
    (root, out)
  }

  /** Task-metric totals over a set of jobs. */
  final case class Tasks(jobs: Int, stages: Int, tasks: Long, failed: Long, busyMs: Double,
                         cpuMs: Double, gcMs: Double, spillMb: Double, shuffleMb: Double,
                         fetchWaitMs: Double, inputMb: Double, planMs: Double)

  def tasks(js: Seq[AJob], st: SparkTrace): Tasks = {
    val ss = js.flatMap(_.job.stages).distinct.flatMap(id => Option(st.stages.get(id)))
    val mb = 1048576.0
    Tasks(js.size, ss.count(_.tasks > 0), ss.map(_.tasks).sum, ss.map(_.failedTasks).sum,
      ss.map(_.busyMs).sum, ss.map(_.cpuMs).sum, ss.map(_.gcMs).sum,
      ss.map(_.spillBytes).sum / mb, ss.map(_.shuffleWriteBytes).sum / mb,
      ss.map(_.fetchWaitMs).sum, ss.map(_.inputBytes).sum / mb,
      js.flatMap(_.exec).distinct.map(_.planMs).sum)
  }

  def sqlMetric(js: Seq[AJob], name: String): Seq[Long] =
    js.flatMap(_.exec).distinct.flatMap(_.metrics.collect { case (n, v) if n == name => v })

  val JoinOps = Seq("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct")

  /** Spans file lines: the benchmark's spans, then one child span per SQL
   * execution and per job, each naming its layer. */
  def spanLines(tracer: Tracer, st: SparkTrace): Seq[String] = {
    val traces = tracer.spans.map(_.trace).distinct
    val bench = tracer.spans.map(s => Json.obj("trace" -> s.trace, "id" -> s"b${s.id}",
      "parent" -> (if (s.parent == 0L) null else s"b${s.parent}"), "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "source" -> "benchmark").s)
    val spark = traces.flatMap { t =>
      val (_, js) = attribute(t, tracer, st)
      val execSpans = js.flatMap(j => j.exec.map(_ -> j)).groupBy(_._1.execId).values.map { g =>
        val (x, j) = g.head
        Json.obj("trace" -> t, "id" -> s"x${x.execId}", "parent" -> s"b${j.span.id}",
          "name" -> s"sql:${j.bucket}:${st.actionName(x.execId)}",
          "start_ms" -> x.startMs, "end_ms" -> x.endMs, "frame" -> frame(x.details),
          "plan_ms" -> x.planMs, "source" -> "QueryExecutionListener").s
      }
      val jobSpans = js.map { j =>
        Json.obj("trace" -> t, "id" -> s"j${j.job.jobId}",
          "parent" -> j.exec.map(x => s"x${x.execId}").getOrElse(s"b${j.span.id}"),
          "name" -> s"job:${j.bucket}", "start_ms" -> j.job.startMs, "end_ms" -> j.job.endMs,
          "stages" -> j.job.stages.size, "failed" -> j.job.failed, "source" -> "SparkListener").s
      }
      execSpans ++ jobSpans
    }
    bench.toSeq ++ spark
  }
}
