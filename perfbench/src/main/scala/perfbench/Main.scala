package perfbench

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One metric value with the conditions it was measured under. */
final case class Metric(value: Double, unit: String, cpuS: Double = Double.NaN,
                        stealPct: Double = Double.NaN) {
  def json: Map[String, Any] = Map("value" -> value, "unit" -> unit) ++
    (if (cpuS.isNaN) Map.empty else Map("cpu_s" -> cpuS, "steal_pct" -> stealPct))
}

/** What a workload hands back: the generic end-to-end metrics (the
  * names in BENCHMARK.json), the workload's own named metrics, per-layer
  * metrics of a traced run, and its correctness tally. */
final case class Outcome(
    e2e: Map[String, Metric],
    named: Map[String, Metric],
    layers: Map[String, Metric],
    attempted: Long,
    failures: Seq[String],
    detail: Map[String, Any] = Map.empty)

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val probe: Option[Probe],
                val spans: Spans, val seed: Long, val seconds: Int,
                val data: String) {
  private var seq = 0
  val traced: Boolean = probe.isDefined

  /** Whether a timed loop that began at `t0` (nanoTime) and has done
    * `done` repetitions starts another: always below `min`, and
    * otherwise only if one more, at the mean pace so far, still ends
    * within `--seconds`. So the repetition count does not flip between
    * runs on a repetition that would overrun the budget. */
  def another(done: Int, min: Int, t0: Long): Boolean = {
    val elapsed = (System.nanoTime() - t0) / 1e9
    done < min || elapsed + elapsed / done <= seconds
  }

  final case class Op[T](result: Try[T], wallS: Double, split: Option[OpSplit])

  /** Run `body` as one operation (one client request). Its jobs are
    * tagged with the op id; in a traced run the op is split into
    * layers and recorded as a span. */
  def op[T](kind: String, name: String)(body: String => T): Op[T] = {
    seq += 1
    val id = s"$kind:$name#$seq"
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.OpKey, id)
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Try(body(id)) finally sc.setLocalProperty(Probe.OpKey, null)
    val wall = (System.nanoTime() - t0) / 1e9
    val m1 = System.currentTimeMillis()
    val split = probe.map(_.close(id, m0, m1, wall))
    if (traced) spans.add(id, kind, name, m0, m1)
    Op(r, wall, split)
  }

  /** Time one step of an operation; a span in a traced run. Jobs the
    * step starts are tagged with the step, so their task sums are kept
    * apart in the op's split. */
  def step[T](opId: String, name: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.OpKey, opId + Probe.StepSep + name)
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try body finally sc.setLocalProperty(Probe.OpKey, opId)
    val s = (System.nanoTime() - t0) / 1e9
    if (traced) spans.add(opId, "step", name, m0, System.currentTimeMillis())
    (r, s)
  }
}

/** Benchmark process: builds the session, runs one workload as a
  * closed loop with a single client, and writes one JSON record.
  *
  * {{{
  *   perfbench.Main --workload lloyd|queries|snapshot_write --seed N
  *     --seconds S --trace 0|1 --work DIR --data DIR --out FILE
  *     [--sha SHA]
  * }}}
  */
object Main {

  /** The one session config every workload runs under: the production
    * config of the engine's mains plus per-run artifact, local and
    * warehouse dirs, so nothing memoized by an earlier run is found. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.artifacts.dir", s"$work/artifacts")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up repetitions; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = opts("work")
    val data = opts("data")
    val cpus = Runtime.getRuntime.availableProcessors()
    val w: Workload = workload match {
      case "lloyd" => Lloyd
      case "queries" => Queries
      case "snapshot_write" => Storage
      case other => sys.error(s"unknown workload $other")
    }

    // inputs come from the seed only, before any timing
    val genMeter = new Host.Meter
    val input = w.generate(seed, work, data)
    val genWindow = genMeter.stop()

    // set-up: session start plus the workload's own preparation, done
    // SetupReps times (each on a fresh session); the last one is kept
    var spark: SparkSession = null
    val setupsMeter = new Host.Meter
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val m = new Host.Meter
      spark = session(cpus, work)
      val prepared = w.prepare(spark, input)
      (m.stop(), prepared)
    }
    val setupsWindow = setupsMeter.stop()
    val setup = setups.map(_._1).sortBy(_.wallS).apply(SetupReps / 2)
    val prepared = setups.last._2

    val spans = new Spans
    val probe = if (traced) Some(new Probe(spark, spans)) else None
    probe.foreach(_.attach())
    val ctx = new Ctx(spark, probe, spans, seed, seconds, data)
    val runMeter = new Host.Meter
    val out = w.run(ctx, prepared)
    val runWindow = runMeter.stop()
    probe.foreach(_.detach())
    if (traced) spans.write(s"${opts("out")}.spans.jsonl")

    val e2e = out.e2e ++ Map(
      "setup_s" -> Metric(setup.wallS, "s", setup.cpuS, setup.stealPct),
      "peak_rss_mb" -> Metric(Host.peakRssMb(), "MB", runWindow.cpuS, runWindow.stealPct))
    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced,
      "conditions" -> Map(
        "nproc" -> cpus,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "sha" -> opts.getOrElse("sha", "unknown"),
        "generate_wall_s" -> genWindow.wallS,
        "setups_wall_s" -> setupsWindow.wallS,
        "run_wall_s" -> runWindow.wallS,
        "run_cpu_s" -> runWindow.cpuS,
        "run_steal_pct" -> runWindow.stealPct,
        "run_jit_s" -> runWindow.jitS,
        "run_gc_s" -> runWindow.gcS),
      "attempted" -> out.attempted,
      "failures" -> out.failures,
      "e2e" -> e2e.map { case (k, m) => k -> m.json },
      "named" -> (out.named ++ Map(
        "setup_s" -> e2e("setup_s"), "peak_rss_mb" -> e2e("peak_rss_mb")))
        .map { case (k, m) => k -> m.json },
      "layers" -> out.layers.map { case (k, m) => k -> m.json },
      "detail" -> out.detail)
    val pw = new java.io.PrintWriter(opts("out"), "UTF-8")
    try pw.println(Json(record)) finally pw.close()
    w.cleanup(spark)
    spark.stop()
  }
}

/** A benchmark workload: seeded input generation (untimed), set-up
  * (timed as `setup_s`), and the measured run. */
trait Workload {
  type In
  type Prep
  def generate(seed: Long, work: String, data: String): In
  def prepare(spark: SparkSession, input: In): Prep
  def run(ctx: Ctx, prepared: Prep): Outcome
  def cleanup(spark: SparkSession): Unit = ()
}

/** Roll-ups shared by the workloads. */
object Layers {

  /** Executor-side and scheduler metrics summed over `splits`, divided
    * by `passes` (fits, query passes or scripts). */
  def common(splits: Seq[OpSplit], passes: Int): Map[String, Metric] = {
    val t = new TaskSums
    splits.foreach(s => t.add(s.tasks))
    val p = math.max(1, passes).toDouble
    Map(
      "catalyst.analysis_s" -> Metric(splits.map(_.analysisS).sum / p, "s"),
      "catalyst.optimization_s" -> Metric(splits.map(_.optimizationS).sum / p, "s"),
      "catalyst.planning_s" -> Metric(splits.map(_.planningS).sum / p, "s"),
      "exec.jobs" -> Metric(splits.map(_.jobs).sum / p, "count"),
      "exec.job_s" -> Metric(splits.map(_.jobS).sum / p, "s"),
      "exec.driver_gap_s" -> Metric(splits.map(_.gapS).sum / p, "s"),
      "task.cpu_s" -> Metric(t.cpuS / p, "s"),
      "task.gc_s" -> Metric(t.gcS / p, "s"),
      "shuffle.read_bytes" -> Metric(t.shuffleReadBytes / p, "bytes"),
      "shuffle.write_bytes" -> Metric(t.shuffleWriteBytes / p, "bytes"),
      "spill.bytes" -> Metric(t.spillBytes / p, "bytes"),
      "task.peak_exec_mem_mb" -> Metric(t.peakExecMemBytes / 1048576.0, "MB"),
      "trace.leak_pct" -> Metric(
        100.0 * splits.map(_.leakS).sum / math.max(1e-9, splits.map(_.wallS).sum), "%"))
  }
}
