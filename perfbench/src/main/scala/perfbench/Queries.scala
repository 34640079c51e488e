package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.SpatialJoins

/**
 * `snapshot-queries`: reads only. Set-up builds the `minute-diffs` world
 * from the same seed and commits one sequence through UpdateJob, so the
 * store has its post-update layout. Timed rounds then run the query suite
 * one query at a time against `store.readTable(watermark, "node_geoms")`:
 * pipJoin against 48-vertex polygons, knnJoin k=5, distJoin, and tileJoin +
 * tileHistogram at z=6.
 */
object Queries {
  val Polys = 4000
  val QueryPoints = 500
  val K = 5
  val Eps = 0.001
  val Z = 6
  val SetupSequences = 1

  final case class Round(trace: Long, readS: Double, times: Map[String, Double], rows: Map[String, Long]) {
    def wallS: Double = readS + times.values.sum
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val opts = ctx.opts
    // --- set-up
    val (world, inputs, worldS) =
      Updates.setUpWorld(ctx, Updates.MinuteDiffs)
    val loop = new Updates.Loop(ctx, world, inputs)
    val t1 = System.nanoTime()
    val seqs = (1 to SetupSequences).map(_ => loop.next(traced = false))
    Log(s"set-up: ${seqs.size} sequences committed")
    val polys = QueryInputs.polys(opts.seed, Polys)
    val queries = QueryInputs.queries(opts.seed, QueryPoints,
      world.nodeRows.map(r => (r._2, r._3)).toArray)
    val tiles = QueryInputs.tiles(opts.seed, Z)
    val qdir = ctx.dir("input/queries")
    polys.map(p => (p.id, p.wkt)).toSeq.toDF("poly_id", "wkt").coalesce(1)
      .write.mode("overwrite").parquet(qdir.resolve("polys").toString)
    queries.toSeq.toDF("qid", "qlon", "qlat").coalesce(1)
      .write.mode("overwrite").parquet(qdir.resolve("queries").toString)
    tiles.toSeq.toDF("tile_id").coalesce(1)
      .write.mode("overwrite").parquet(qdir.resolve("tiles").toString)
    val polysDf = spark.read.parquet(qdir.resolve("polys").toString)
    val queriesDf = spark.read.parquet(qdir.resolve("queries").toString)
    val tilesDf = spark.read.parquet(qdir.resolve("tiles").toString)
    require(seqs.forall(_.failure.isEmpty), s"set-up sequence failed: ${seqs.flatMap(_.failure).mkString}")
    val store = loop.store
    val watermark = store.watermark().get
    val tracer = ctx.tracer

    def points() =
      store.readTable(spark, watermark, "node_geoms").select(col("id").as("pid"), col("lon"), col("lat"))
    def pip(pts: DataFrame) = SpatialJoins.pipJoin(pts, polysDf)
    def knn(pts: DataFrame) = SpatialJoins.knnJoin(queriesDf, pts, K)
    def dist(pts: DataFrame) = SpatialJoins.distJoin(queriesDf, pts, Eps)
    def tileJoin(pts: DataFrame) = SpatialJoins.tileJoin(pts, tilesDf, Z)
    def tileHist(pts: DataFrame) = SpatialJoins.tileHistogram(pts, Z)

    def round(traced: Boolean): Round = {
      tracer.enabled = traced
      val trace = tracer.newTrace()
      val times = mutable.LinkedHashMap.empty[String, Double]
      val rows = mutable.LinkedHashMap.empty[String, Long]
      def timed(q: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        rows(q) = tracer.span(s"spatialjoins.$q")(f)
        times(q) = (System.nanoTime() - t0) / 1e9
        Log(f"$q ${times(q)}%.2f s, ${rows(q)} rows")
      }
      var readS = 0.0
      tracer.span("round") {
        val t0 = System.nanoTime()
        val pts = tracer.span("store.readTable")(points())
        readS = (System.nanoTime() - t0) / 1e9
        timed("pip")(pip(pts).count())
        timed("knn")(knn(pts).count())
        timed("dist")(dist(pts).count())
        timed("tile") {
          tracer.span("SpatialJoins.tileJoin")(tileJoin(pts).count()) +
            tracer.span("SpatialJoins.tileHistogram")(tileHist(pts).count())
        }
      }
      tracer.enabled = false
      Round(trace, readS, times.toMap, rows.toMap)
    }

    // the warm-up round collects every output and is the checked one
    val got = {
      val pts = points()
      Brute.Got(pip(pts).select("pid", "poly_id").as[(Long, Long)].collect(),
        knn(pts).select("qid", "pid", "rank").as[(Long, Long, Int)].collect(),
        dist(pts).select("qid", "pid").as[(Long, Long)].collect(),
        tileJoin(pts).count(), tileHist(pts).select("tile_id", "cnt").as[(Long, Long)].collect())
    }
    val warmRows = Map("pip" -> got.pip.length.toLong, "knn" -> got.knn.length.toLong,
      "dist" -> got.dist.length.toLong, "tile" -> (got.tileJoinRows + got.hist.length))
    val setupS = ctx.sessionS + worldS + (System.nanoTime() - t1) / 1e9
    Log(f"set-up done in $setupS%.1f s")

    // --- measured window
    val rounds = mutable.ArrayBuffer.empty[Round]
    val deadline = System.nanoTime() + (opts.seconds * 1e9).toLong
    while (Stats.another(rounds.map(_.wallS).toSeq, deadline))
    { rounds += round(traced = opts.trace && rounds.size % 2 == 0); ctx.heap.sample() }
    val heapMb = ctx.heap.peakMb

    // --- checks
    Log(s"${rounds.size} rounds measured; checking")
    val checks = Seq(
      ("same rows every round", (warmRows +: rounds.map(_.rows)).distinct.size == 1,
        s"rows ${rounds.head.rows.toSeq.sortBy(_._1).map { case (q, n) => s"$q=$n" }.mkString(" ")}"),
      ("update sequences in set-up", seqs.forall(_.failure.isEmpty),
        seqs.flatMap(_.failure).headOption.getOrElse(s"${seqs.size} committed and checked"))) ++
      Brute.check(points().as[(Long, Double, Double)].collect(), polys, queries, tiles, got)

    // --- end-to-end metrics
    def med(q: String) = Stats.median(rounds.map(_.times(q)).toSeq)
    val suite = Seq("pip", "knn", "tile")
    val joinRowsPerS = rounds.map(r => suite.map(r.rows(_)).sum).sum.toDouble /
      rounds.map(r => suite.map(r.times(_)).sum).sum
    val walls = rounds.map(_.wallS).toSeq
    val (tailP, tail) = Stats.tail(walls)
    val storeMb = seqs.map(_.storeBytes).sum / 1048576.0 / seqs.size
    val failed = if (checks.forall(_._2)) 0 else rounds.size
    val endToEnd = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_s" -> Metric(Stats.median(walls), "s"),
      "work_per_s" -> Metric(joinRowsPerS, "1/s"),
      "heap_peak_mb" -> Metric(heapMb, "MB"),
      "store_mb_per_seq" -> Metric(storeMb, "MB"),
      "pip_s" -> Metric(med("pip"), "s"), "knn_s" -> Metric(med("knn"), "s"),
      "dist_s" -> Metric(med("dist"), "s"), "tile_s" -> Metric(med("tile"), "s"),
      "join_rows_per_s" -> Metric(joinRowsPerS, "1/s"),
      "failed_frac" -> Metric(failed.toDouble / rounds.size, "ratio"))
    val notes = Seq(
      "rounds" -> s"${rounds.size} measured after 1 checked warm-up",
      "round tail" -> f"p$tailP of ${walls.size} rounds: $tail%.2f s",
      "snapshot" -> (s"${world.liveNodeCount} nodes after $SetupSequences sequences; " +
        s"${polys.length} polygons, ${queries.length} query points, ${tiles.length} tiles"))
    val perLayer = if (!opts.trace) Nil else {
      SeqLayers.waitForListener(ctx)
      val (traced, untraced) = rounds.toSeq.partition(r => tracer.spans.exists(_.trace == r.trace))
      SeqLayers.report(ctx, traced.map(r => roundLayers(ctx, r)), traced.map(_.wallS), untraced.map(_.wallS))
    }
    Outcome(rounds.size, failed, checks ++ SeqLayers.attributionCheck(perLayer), endToEnd, perLayer, notes)
  }

  /** Per-layer metrics of one traced query round. */
  def roundLayers(ctx: Ctx, r: Round): Map[String, Double] = {
    val st = ctx.strace
    val (root, js) = Layers.attribute(r.trace, ctx.tracer, st)
    val wall = root.endMs - root.startMs
    val busy = Layers.unionMs(js.map(j => (j.job.startMs, j.job.endMs)))
    val buckets = js.map(_.bucket).distinct.filter(_ != "unattributed")
    val attributed = buckets.map(b => Layers.unionMs(js.filter(_.bucket == b).map(j => (j.job.startMs, j.job.endMs)))).sum
    val spans = ctx.tracer.spans.filter(_.trace == r.trace)
    val perQuery = Layers.Queries.flatMap { q =>
      val qj = js.filter(_.bucket == s"spatialjoins.$q")
      val t = Layers.tasks(qj, st)
      val qWall = spans.find(_.name == s"spatialjoins.$q").map(s => s.endMs - s.startMs).getOrElse(0.0)
      val joinRows = Layers.JoinOps.flatMap(op => Layers.sqlMetric(qj, s"$op.numOutputRows"))
      // rows entering the exact refine: the largest join output of the
      // query's plans (the tile queries have no refine)
      val candidates = if (joinRows.isEmpty || q == "tile") r.rows(q) else joinRows.max
      val self = qWall - Layers.unionMs(qj.map(j => (j.job.startMs, j.job.endMs)))
      Seq("rows_out" -> r.rows(q).toDouble, "candidates" -> candidates.toDouble,
        "refine_pass_ratio" -> (if (candidates == 0) 0.0 else r.rows(q).toDouble / candidates),
        "shuffle_mb" -> t.shuffleMb,
        "broadcast_mb" -> Layers.sqlMetric(qj, "BroadcastExchange.dataSize").sum / 1048576.0,
        "spill_mb" -> t.spillMb, "task_busy_ms" -> t.busyMs, "plan_ms" -> t.planMs,
        "jobs" -> t.jobs.toDouble, "core_util" -> (if (qWall > 0) t.busyMs / (qWall * 4) else 0.0),
        "self_ms" -> self).map { case (f, v) => s"spatialjoins.$q.$f" -> v }
    }
    val reads = js.filter(_.bucket == "lineage.read")
    (perQuery ++ Seq(
      "lineage.read_ms" -> spans.find(_.name == "store.readTable").map(s => s.endMs - s.startMs).getOrElse(0.0),
      "lineage.bytes_read_mb" -> Layers.tasks(js, st).inputMb,
      "update.attribution_gap_pct" -> 100.0 * math.abs(attributed + (wall - busy) - wall) / wall)).toMap
  }
}

/** Brute-force checks of the query operators on fixed probe samples,
 * written in the benchmark without graft.geo. */
object Brute {
  /** Outputs of the check round, collected. */
  final case class Got(pip: Array[(Long, Long)], knn: Array[(Long, Long, Int)],
                       dist: Array[(Long, Long)], tileJoinRows: Long, hist: Array[(Long, Long)])

  def check(p: Array[(Long, Double, Double)], polys: Array[QueryInputs.Poly],
            queries: Array[(Long, Double, Double)], tiles: Array[Long],
            got: Got): Seq[(String, Boolean, String)] = {
    def every[T: scala.reflect.ClassTag](xs: Array[T], n: Int): Array[T] =
      xs.indices.filter(i => i % math.max(1, xs.length / n) == 0).take(n).map(xs(_)).toArray
    def dist(x1: Double, y1: Double, x2: Double, y2: Double) = {
      val dx = x2 - x1; val dy = y2 - y1; math.sqrt(dx * dx + dy * dy)
    }

    // pip: probe points, plus the hot box, against every polygon
    val probes = (every(p, 300) ++
      every(p.filter(x => x._2 > -0.06 && x._2 < 0.06 && x._3 > 51.49 && x._3 < 51.61), 100)).distinct
    val probeIds = probes.map(_._1).toSet
    val pipGot = got.pip.filter(r => probeIds(r._1)).toSet
    val pipWant = probes.flatMap { case (id, x, y) =>
      polys.filter(pl => QueryInputs.contains(pl, x, y)).map(pl => (id, pl.id))
    }.toSet

    // query probes: an even sample plus every far query (kNN's brute-force
    // fallback) and a sample of the hot-box queries
    def qprobes(n: Int) = (every(queries, n) ++ queries.filter(q => QueryInputs.farQuery(q._1)) ++
      every(queries.filter(q => QueryInputs.hotQuery(q._1)), 10)).distinct

    // knn: exact top-k by (distance, pid)
    val kq = qprobes(60)
    val kqIds = kq.map(_._1).toSet
    val knnGot = got.knn.filter(r => kqIds(r._1)).toSet
    val knnWant = kq.flatMap { case (qid, qx, qy) =>
      topK(p.map { case (pid, x, y) => (dist(qx, qy, x, y), pid) }, Queries.K)
        .zipWithIndex.map { case ((_, pid), i) => (qid, pid, i + 1) }
    }.toSet

    // dist: every pair closer than eps
    val dq = qprobes(100)
    val dqIds = dq.map(_._1).toSet
    val distGot = got.dist.filter(r => dqIds(r._1)).toSet
    val distWant = dq.flatMap { case (qid, qx, qy) =>
      p.collect { case (pid, x, y) if dist(qx, qy, x, y) < Queries.Eps => (qid, pid) }
    }.toSet

    // tiles: histogram against a plain group-by of an independent tile id
    val tileOf = p.map { case (_, x, y) => QueryInputs.tileId(x, y, Queries.Z) }
    val histWant = tileOf.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }.toSet
    val inventory = tiles.toSet
    val joinWant = tileOf.count(inventory).toLong

    def cmp[T](name: String, got: Set[T], want: Set[T]) =
      (name, got == want, s"${got.size} rows; ${(got -- want).size} unexpected, ${(want -- got).size} missing")
    Seq(
      cmp(s"pipJoin vs brute force (${probes.length} probes)", pipGot, pipWant),
      cmp(s"knnJoin vs brute force (${kq.length} queries)", knnGot, knnWant),
      cmp(s"distJoin vs brute force (${dq.length} queries)", distGot, distWant),
      cmp("tileHistogram vs group-by", got.hist.toSet, histWant),
      ("tileJoin row count", got.tileJoinRows == joinWant, s"${got.tileJoinRows} rows, $joinWant expected"))
  }

  /** The k smallest (distance, pid) pairs in order, without sorting all. */
  def topK(xs: Array[(Double, Long)], k: Int): Seq[(Double, Long)] = {
    val ord = Ordering[(Double, Long)]
    val heap = mutable.PriorityQueue.empty[(Double, Long)](ord)
    xs.foreach { x => if (heap.size < k) heap += x else if (ord.lt(x, heap.head)) { heap.dequeue(); heap += x } }
    heap.toSeq.sorted(ord)
  }
}
