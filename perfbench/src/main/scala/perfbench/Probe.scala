package perfbench

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation's split into layers. Times in seconds.
  *  - `jobS`: union of the op's Spark job intervals;
  *  - `analysisS`/`optimizationS`/`planningS`: Catalyst phase times of
  *    every query execution that ran inside the op window;
  *  - `gapS`: wall time covered by neither a job nor a Catalyst phase —
  *    driver-side work such as operator construction and result merges;
  *  - `leakS`: listener time that fell outside the op window (an
  *    attribution error; near 0 when the split is trustworthy);
  *  - `stepTasks`: task sums of the jobs started inside each named step. */
final case class OpSplit(
    wallS: Double, jobS: Double, jobs: Int,
    analysisS: Double, optimizationS: Double, planningS: Double,
    catalystOnlyS: Double, gapS: Double, leakS: Double,
    tasks: TaskSums, stepTasks: Map[String, TaskSums])

final class TaskSums {
  var n = 0L
  var cpuS = 0.0
  var gcS = 0.0
  var runS = 0.0
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L

  def add(m: TaskMetrics): Unit = {
    n += 1
    cpuS += m.executorCpuTime / 1e9
    gcS += m.jvmGCTime / 1e3
    runS += m.executorRunTime / 1e3
    inputBytes += m.inputMetrics.bytesRead
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    peakExecMemBytes = math.max(peakExecMemBytes, m.peakExecutionMemory)
  }

  def add(o: TaskSums): Unit = {
    n += o.n; cpuS += o.cpuS; gcS += o.gcS; runS += o.runS
    inputBytes += o.inputBytes
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
  }
}

/** Spans of a traced run, kept in memory and written out at the end. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Map[String, Any]]()
  def add(op: String, kind: String, name: String, startMs: Long, endMs: Long,
          attrs: (String, Any)*): Unit = synchronized {
    buf += (Map[String, Any]("op" -> op, "kind" -> kind, "name" -> name,
      "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs)
  }
  def write(path: String): Unit = synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try buf.foreach(s => w.println(Json(s))) finally w.close()
  }
}

/** Layer probe: a SparkListener (jobs, tasks) plus a
  * QueryExecutionListener (Catalyst phases from `qe.tracker.phases`).
  * Jobs carry the op id as a local property, so every job and task is
  * attributed to the operation that started it; Catalyst phases are
  * attributed by time window (the harness runs one op at a time). */
final class Probe(spark: SparkSession, spans: Spans)
    extends SparkListener with QueryExecutionListener {
  import Probe._

  private final case class Job(id: Int, op: String, start: Long, var end: Long)
  private final case class Phase(name: String, start: Long, end: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageOp = mutable.HashMap[Int, String]()
  private val tasks = mutable.HashMap[String, TaskSums]()
  private val phases = mutable.ArrayBuffer[Phase]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
    op.foreach { o =>
      jobs(e.jobId) = Job(e.jobId, o, e.time, -1L)
      e.stageInfos.foreach(s => stageOp(s.stageId) = o)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      spans.add(j.op, "job", s"job ${j.id}", j.start, j.end)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      if (e.taskMetrics != null)
        tasks.getOrElseUpdate(op, new TaskSums).add(e.taskMetrics)
      spans.add(op, "task", s"task ${e.taskInfo.taskId}",
        e.taskInfo.launchTime, e.taskInfo.finishTime,
        "stage" -> e.stageId)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += Phase(name, p.startTimeMs, p.endTimeMs)
    }
  }

  /** Close op `op` over the window [startMs, endMs] whose nanosecond wall
    * time is `wallS`: wait for its events, then split it. */
  def close(op: String, startMs: Long, endMs: Long, wallS: Double): OpSplit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized {
      def ours(key: String) = key == op || key.startsWith(op + StepSep)
      val js = jobs.values.filter(j => ours(j.op) && j.end >= 0).toSeq
      val ps = phases.filter(p => p.start >= startMs - 1 && p.start <= endMs)
        .toSeq
      phases --= ps
      js.foreach(j => jobs.remove(j.id))
      ps.foreach(p => spans.add(op, "catalyst", p.name, p.start, p.end))
      def phaseS(n: String) = ps.filter(_.name == n).map(p => p.end - p.start).sum / 1e3
      val jobIv = js.map(j => (j.start, j.end))
      val phaseIv = ps.filter(_.name != "parsing").map(p => (p.start, p.end))
      val jobU = unionMs(clip(jobIv, startMs, endMs))
      val allU = unionMs(clip(jobIv ++ phaseIv, startMs, endMs))
      val allRaw = unionMs(jobIv ++ phaseIv)
      val window = math.max(wallS, (endMs - startMs) / 1e3)
      val keys = tasks.keys.filter(ours).toSeq
      val total = new TaskSums
      val steps = keys.flatMap { k =>
        val t = tasks.remove(k).get
        total.add(t)
        if (k == op) None else Some(k.drop(op.length + StepSep.length) -> t)
      }.groupBy(_._1).map { case (n, ts) =>
        val sum = new TaskSums
        ts.foreach(x => sum.add(x._2))
        n -> sum
      }
      OpSplit(wallS, jobU / 1e3, js.size,
        phaseS("analysis"), phaseS("optimization"), phaseS("planning"),
        (allU - jobU) / 1e3, math.max(0.0, window - allU / 1e3),
        (allRaw - allU) / 1e3, total, steps)
    }
  }
}

object Probe {
  val OpKey = "perfbench.op"
  /** Jobs of a step carry `<op id><StepSep><step name>`. */
  val StepSep = "|"

  private def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long) =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }

  /** Total length of the union of [a, b) intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
