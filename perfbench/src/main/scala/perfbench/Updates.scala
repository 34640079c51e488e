package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lineage.{SnapshotStore, UpdateJob}
import graft.sources.OsmChangeXml

/**
 * The update workloads (`minute-diffs`, `dense-diffs`): a closed loop with
 * one client. Sequence s+1 is written and handed over only after s has
 * committed. One sample is one sequence: from handing its `.osc` file to
 * `OsmChangeXml.read` until `UpdateJob.run(from = to = s)` returns with the
 * sequence committed.
 */
object Updates {
  /** Many small worldwide sequences over a large sparse snapshot. */
  val MinuteDiffs = Shape("towns", 100000, 8, 0, 8, 2000, 20, 0.3)

  /** Fewer, large sequences concentrated in one region of a dense
   * snapshot whose nodes each sit on ~10 long ways. */
  val DenseDiffs = Shape("grid", 40000, 50, 10, 10, 8000, 1, 0)

  /** The first sequences run 1.5-2.5x slower (JIT, generated code); one
   * warm-up sequence in set-up takes the steepest part of that. */
  val WarmUps = 1
  /** Set-ups repeated per run; set-up time is their median. */
  val SetUpReps = 3

  final case class SeqRun(seq: Long, wallS: Double, compacted: Int, dirtyNodes: Int,
                          storeBytes: Long, failure: Option[String], trace: Long)

  /** The changes-table shape UpdateJob takes, from the flat `.osc` rows. */
  def changesOf(osc: DataFrame, seq: Long): DataFrame =
    osc.select(lit(seq).as("seq"), col("ordinal").as("eid"), col("obj_type"), col("id"),
      col("version"), when(col("action") === "delete", 1).otherwise(0).as("deleted"),
      col("action"), col("ts"), col("lon"), col("lat"))

  /** Generate the world and write the snapshot tables the engine reads. */
  def writeInputs(spark: SparkSession, world: World, dir: Path): Unit = {
    import spark.implicits._
    world.nodeRows.toSeq.toDF("id", "lon", "lat").coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("node_geoms").toString)
    world.wayMemberRows.toSeq.toDF("way_id", "node_id", "pos").coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("way_members").toString)
    world.relMemberRows.toSeq.toDF("rel_id", "member_id", "member_type", "role", "pos").coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("rel_members").toString)
  }

  /** Set the world up [[SetUpReps]] times from the same seed (the last one
   * is used); returns it with the median set-up time. */
  def setUpWorld(ctx: Ctx, shape: Shape): (World, Path, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: (World, Path) = null
    for (r <- 1 to SetUpReps) {
      val t0 = System.nanoTime()
      val w = new World(ctx.opts.seed, shape)
      val dir = ctx.dir(s"input/rep$r")
      writeInputs(ctx.spark, w, dir)
      times += (System.nanoTime() - t0) / 1e9
      last = (w, dir)
      Log(f"world set-up $r: ${times.last}%.2f s")
    }
    (last._1, last._2, Stats.median(times.toSeq))
  }

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  /** Applies sequences one at a time against one store, checking each. */
  final class Loop(ctx: Ctx, val world: World, inputs: Path) {
    private val spark = ctx.spark
    val storeDir: Path = ctx.opts.runDir.resolve("store")
    val store = new SnapshotStore(storeDir.toString)
    private val nodes0 = spark.read.parquet(inputs.resolve("node_geoms").toString)
    private val wayMembers = spark.read.parquet(inputs.resolve("way_members").toString)
    private var seq = 0L
    val sourceRows = mutable.Map.empty[Long, Long]

    def next(traced: Boolean): SeqRun = {
      seq += 1
      val s = seq
      val osc = ctx.opts.runDir.resolve(f"osc/$s%06d.osc")
      val exp = world.nextSequence(s, osc)
      val before = dirBytes(storeDir)._1
      val tracer = ctx.tracer
      tracer.enabled = traced
      val trace = tracer.newTrace()
      val t0 = System.nanoTime()
      val failure = try {
        tracer.span("sequence") {
          val changes = tracer.span("sources.read") {
            val df = changesOf(OsmChangeXml.read(spark, osc.toString), s)
            if (traced) sourceRows(s) = df.count()
            df
          }
          tracer.span("UpdateJob.run") {
            UpdateJob.run(spark, store, changes, nodes0, wayMembers, s, s)
          }
        }
        None
      } catch { case e: Exception => Some(s"seq $s threw: ${e.getMessage.take(300)}") }
      val wall = (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
      val checked = failure.orElse(checkDirty(s, exp))
      Log(f"sequence $s: $wall%.2f s, ${exp.compacted} changes, ${checked.getOrElse("ok")}")
      SeqRun(s, wall, exp.compacted, exp.dirtyNodes, dirBytes(storeDir)._1 - before, checked, trace)
    }

    /** The committed dirty_way_geoms must match the replay's dirty ways:
     * same way ids, point counts and WKT. */
    private def checkDirty(s: Long, exp: SeqExpect): Option[String] = {
      import spark.implicits._
      if (!store.isCommitted(s)) return Some(s"seq $s not committed")
      val got = store.readTable(spark, s, "dirty_way_geoms").select("way_id", "n_points", "wkt")
        .as[(Long, Int, String)].collect()
        .foldLeft(WayDigest.Empty)((d, r) => d + WayDigest.of(r._1, r._2, r._3))
      val e = exp.dirty
      if (got == e) None
      else if (got.rows != e.rows || got.idSum != e.idSum)
        Some(s"seq $s dirty way ids differ: ${got.rows} rows committed, ${e.rows} expected")
      else if (got.idPtsSum != e.idPtsSum) Some(s"seq $s dirty way point counts differ")
      else Some(s"seq $s dirty way WKT differs")
    }

    /** Size of the symmetric difference of the committed node_geoms rows
     * and the replay's (exact doubles; a duplicated row counts too). */
    def finalStateDiff(): Long = {
      import spark.implicits._
      val w = store.watermark().getOrElse(0L)
      val committed = store.readTable(spark, w, "node_geoms").select("id", "lon", "lat")
        .as[(Long, Double, Double)].collect()
      val replay = world.nodeRows.toSet
      committed.count(r => !replay(r)) + (replay -- committed).size +
        (committed.length - committed.distinct.length)
    }
  }

  def run(ctx: Ctx, shape: Shape): Outcome = {
    val opts = ctx.opts
    // --- set-up: world + snapshot tables (repeated, median), warm-up
    val (world, inputs, worldS) = setUpWorld(ctx, shape)
    val loop = new Loop(ctx, world, inputs)
    val tw = System.nanoTime()
    val warm = (1 to WarmUps).map(_ => loop.next(traced = false))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = ctx.sessionS + worldS + warmS

    // --- measured window
    val runs = mutable.ArrayBuffer.empty[SeqRun]
    val deadline = System.nanoTime() + (opts.seconds * 1e9).toLong
    while (Stats.another(runs.map(_.wallS).toSeq, deadline) && runs.forall(_.failure.isEmpty))
    { runs += loop.next(traced = opts.trace && runs.size % 2 == 0); ctx.heap.sample() }
    val heapMb = ctx.heap.peakMb

    // --- checks
    val failedRuns = (warm ++ runs).filter(_.failure.nonEmpty)
    val diff = if (failedRuns.isEmpty) loop.finalStateDiff() else -1L
    val checks = Seq(
      ("dirty_way_geoms per sequence", failedRuns.isEmpty,
        failedRuns.headOption.flatMap(_.failure).getOrElse(s"${warm.size + runs.size} sequences match the replay")),
      ("final node_geoms", diff == 0L,
        if (diff < 0) "not compared (a sequence failed)" else s"symmetric difference $diff rows"))

    // --- end-to-end metrics
    val walls = runs.map(_.wallS).toSeq
    val (tailP, tail) = Stats.tail(walls)
    val changesPerS = runs.map(_.compacted).sum / walls.sum
    val storeMb = runs.map(_.storeBytes).sum / 1048576.0 / runs.size
    val failedFrac = runs.count(_.failure.nonEmpty).toDouble / runs.size
    val endToEnd = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_s" -> Metric(Stats.median(walls), "s"),
      "work_per_s" -> Metric(changesPerS, "1/s"),
      "heap_peak_mb" -> Metric(heapMb, "MB"),
      "store_mb_per_seq" -> Metric(storeMb, "MB"),
      // the same numbers under the workload's own names
      "seq_p50_s" -> Metric(Stats.median(walls), "s"),
      "seq_tail_s" -> Metric(tail, "s"),
      "changes_per_s" -> Metric(changesPerS, "1/s"),
      "failed_frac" -> Metric(failedFrac, "ratio"))
    val notes = Seq(
      "sequences" -> s"${runs.size} measured after ${warm.size} warm-up",
      "seq_tail_s" -> s"p$tailP of ${walls.size} samples",
      "set-up" -> f"session ${ctx.sessionS}%.2f s + world/tables median ${worldS}%.2f s + warm-up ${warmS}%.2f s",
      "snapshot" -> s"${world.initialNodes} nodes, ${world.wayCount} ways, ${world.relCount} relations")
    val perLayer = if (!opts.trace) Nil else {
      SeqLayers.waitForListener(ctx)
      val (traced, untraced) = runs.toSeq.partition(r => ctx.tracer.spans.exists(_.trace == r.trace))
      SeqLayers.report(ctx, traced.map(r => SeqLayers.of(ctx, loop, r)),
        traced.map(_.wallS), untraced.map(_.wallS))
    }
    Outcome(runs.size, runs.count(_.failure.nonEmpty), checks ++ SeqLayers.attributionCheck(perLayer),
      endToEnd, perLayer, notes)
  }
}
