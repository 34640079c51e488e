package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark (see perfbench/README.md). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, runDir: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad argument: ${a.mkString(" ")}")
    }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("run-dir")).toAbsolutePath)
  }
}

/** A measured value with its unit, as printed and as emitted in JSON. */
final case class Metric(value: Double, unit: String)

/** What a workload run hands back to [[Main]]. */
final case class Outcome(
    attempted: Int, failed: Int, checks: Seq[(String, Boolean, String)],
    endToEnd: Seq[(String, Metric)], perLayer: Seq[(String, Metric)],
    notes: Seq[(String, String)])

/** Everything a workload needs from the process. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
                val strace: SparkTrace, val sessionS: Double) {
  val heap = new HeapWatch
  def dir(name: String): Path = Files.createDirectories(opts.runDir.resolve(name))
}

/** Peak old-generation occupancy after a full collection, sampled after
 * every measured sequence or round (outside its timing). Two collections
 * with a pause between them: the first lets Spark's ContextCleaner see and
 * drop checkpoint blocks nothing references any more, the second frees
 * them, so the sample is the live set rather than cleaner timing. */
final class HeapWatch {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured")).toSeq
  private var peak = 0L
  def sample(): Unit = {
    System.gc(); Thread.sleep(500); System.gc()
    peak = math.max(peak, oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum)
  }
  def peakMb: Double = peak / 1048576.0
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - t0) / 1000.0}%.1fs] $msg")
}

/** CPU steal share from /proc/stat and the load average. */
object Host {
  final case class Sample(steal: Long, total: Long, load1: Double)
  def sample(): Sample = {
    def read(p: String) = try new String(Files.readAllBytes(Paths.get(p))) catch { case _: Exception => "" }
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(
      _.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    val load = read("/proc/loadavg").split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)
    Sample(if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum, load)
  }
  def stealPct(a: Sample, b: Sample): Double =
    if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0
}

object Main {
  val Workloads = Seq("minute-diffs", "dense-diffs", "snapshot-queries")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = Opts.parse(args)
    require(Workloads.contains(opts.workload), s"unknown workload ${opts.workload}")
    Files.createDirectories(opts.runDir)
    val host0 = Host.sample()
    val spark = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", opts.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.runDir.resolve("warehouse").toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val strace = new SparkTrace(spark.sparkContext)
    if (opts.trace) {
      spark.sparkContext.addSparkListener(strace)
      spark.listenerManager.register(strace.actions)
    }
    val ctx = new Ctx(spark, opts, new Tracer(spark.sparkContext), strace, sessionS)
    val out = try opts.workload match {
      case "minute-diffs" => Updates.run(ctx, Updates.MinuteDiffs)
      case "dense-diffs" => Updates.run(ctx, Updates.DenseDiffs)
      case "snapshot-queries" => Queries.run(ctx)
    } finally spark.stop()
    val host1 = Host.sample()
    val hostLayer = Seq(
      "host.steal_pct" -> Metric(Host.stealPct(host0, host1), "%"),
      "host.load1_before" -> Metric(host0.load1, "count"),
      "host.load1_after" -> Metric(host1.load1, "count"))
    report(opts, out, hostLayer, ctx.tracer, strace)
    // the run directory keeps the reports and spans; generated inputs and
    // the store go
    Seq("store", "input", "osc", "spark-local", "warehouse").map(opts.runDir.resolve)
      .filter(Files.exists(_)).foreach { d =>
        val s = Files.walk(d)
        try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally s.close()
      }
    // the result is written either way; a failed check fails the command
    if (!out.checks.forall(_._2)) sys.exit(1)
  }

  private def report(opts: Opts, out: Outcome, hostLayer: Seq[(String, Metric)],
                     tracer: Tracer, strace: SparkTrace): Unit = {
    val correct = out.checks.forall(_._2)
    println(s"perfbench ${opts.workload} seed=${opts.seed} seconds=${opts.seconds} trace=${if (opts.trace) 1 else 0}")
    out.checks.foreach { case (n, ok, d) => println(f"  check ${if (ok) "ok  " else "FAIL"} $n%-28s $d") }
    out.notes.foreach { case (k, v) => println(f"  $k%-28s $v") }
    val printed = if (opts.trace) out.perLayer ++ hostLayer else out.endToEnd
    printed.foreach { case (n, m) => println(f"  $n%-44s ${m.value}%14.4f ${m.unit}") }
    val emit = if (opts.trace) out.perLayer ++ hostLayer else out.endToEnd.filter(e => Contract.EndToEnd(e._1))
    val result = Json.obj(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> Json.obj(emit.map { case (n, m) => n -> Json.obj("value" -> m.value, "unit" -> m.unit) }: _*))
    val full = Json.obj(
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "result" -> result,
      "checks" -> Json.arr(out.checks.map { case (n, ok, d) => Json.obj("name" -> n, "ok" -> ok, "detail" -> d) }: _*),
      "end_to_end" -> Json.obj(out.endToEnd.map { case (n, m) => n -> Json.obj("value" -> m.value, "unit" -> m.unit) }: _*),
      "per_layer" -> Json.obj((out.perLayer ++ hostLayer).map { case (n, m) => n -> Json.obj("value" -> m.value, "unit" -> m.unit) }: _*),
      "notes" -> Json.obj(out.notes.map { case (k, v) => k -> v }: _*))
    Files.writeString(opts.runDir.resolve("report.json"), full.s + "\n")
    if (opts.trace) Files.write(opts.runDir.resolve("spans.jsonl"), Layers.spanLines(tracer, strace).asJava)
    Files.writeString(opts.runDir.resolve("result.json"), result.s + "\n")
  }
}

/** The end-to-end metric names BENCHMARK.json lists; a workload prints
 * more (the per-workload names below), but the result line carries these. */
object Contract {
  val EndToEnd = Set("setup_s", "op_p50_s", "work_per_s", "heap_peak_mb", "store_mb_per_seq")
}

/** Minimal JSON rendering for the report files. */
object Json {
  final case class Raw(s: String)
  def render(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => render(other.toString)
  }
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => render(k) + ": " + render(v) }
    .mkString("{", ", ", "}"))
  def arr(vs: Any*): Raw = Raw(vs.map(render).mkString("[", ", ", "]"))
}
