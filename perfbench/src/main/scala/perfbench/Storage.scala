package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types.StructType

import graft.sources.SnapshotTable

/** `snapshot_write`: a seeded script of storage operations against a
  * fresh `SnapshotTable` root — appends of `documents` slices, MOR
  * deletes and upserts, copy-on-write merges, point and time-travel
  * reads between the writes, and periodic compaction,
  * `materializeDeletes` and `expire`.
  *
  * Every read is checked against a model of the table that follows the
  * script: per version, the row count and the sum of `doc_id`. */
object Storage extends Workload {
  type In = Plan
  type Prep = Prepared
  val Ops = 20 // the opening commit and two full cycles
  val Cycle = 10
  /** Untimed ops run first on a separate root, so timing starts warm:
    * the script up to its first merge, so every slow op kind has run. */
  val WarmupOps = 8
  val CreateRows = 40
  val AppendRows = 8
  val SmallRows = 64L
  val Key = "doc_id"

  sealed trait Step { def kind: String }
  final case class Create(ids: Seq[Long]) extends Step { val kind = "create" }
  final case class Append(ids: Seq[Long]) extends Step { val kind = "append" }
  final case class Delete(ids: Seq[Long]) extends Step { val kind = "delete" }
  final case class Upsert(ids: Seq[Long]) extends Step { val kind = "upsert_mor" }
  final case class Merge(ids: Seq[Long]) extends Step { val kind = "merge" }
  final case class ReadPoint(id: Long) extends Step { val kind = "read_point" }
  /** Reads the version at rank `pick` in [0, 1) of the live ones (0 is the oldest). */
  final case class ReadVersion(pick: Double) extends Step { val kind = "read_version" }
  case object Compact extends Step { val kind = "compact" }
  case object Materialize extends Step { val kind = "materialize" }
  case object Expire extends Step { val kind = "expire" }

  /** The op script, drawn from the seed alone. Ids are a running
    * counter; row `i` carries the text of source document i mod |docs|. */
  def generate(seed: Long, work: String, data: String): Plan = {
    val rnd = new scala.util.Random(seed)
    var next = 0L
    val live = mutable.LinkedHashSet[Long]()
    val everSeen = mutable.ArrayBuffer[Long]()
    def fresh(n: Int) = (0 until n).map { _ => val i = next; next += 1; everSeen += i; i }
    def pickLive(n: Int) = rnd.shuffle(live.toSeq).take(n)
    val script = mutable.ArrayBuffer[Step]()
    val first = fresh(CreateRows)
    live ++= first
    script += Create(first)
    // cycles of Cycle ops: the MOR ops with reads between the writes,
    // then maintenance. The copy-on-write merge runs right after
    // materializeDeletes, the only state in which the store accepts it
    // (no live delete vectors). The seed picks the rows and ids; the op
    // order and the versions read are fixed, because an order drawn
    // from the seed made one seed's script 10-15 % slower than
    // another's, which was most of the spread between runs.
    val mor = Seq("append", "read_point", "delete", "upsert", "read_version")
    (1 until Ops).foreach { i =>
      val step: Step = i % Cycle match {
        case 0 => Expire
        case c if c == Cycle - 4 => Materialize
        case c if c == Cycle - 3 => val ids = pickLive(2) ++ fresh(2); live ++= ids; Merge(ids)
        case c if c == Cycle - 2 => ReadVersion(0.0)
        case c if c == Cycle - 1 => Compact
        case c => mor(c - 1) match {
          case "append" => val ids = fresh(AppendRows); live ++= ids; Append(ids)
          case "delete" => val ids = pickLive(3); live --= ids; Delete(ids)
          case "upsert" => Upsert(pickLive(3))
          case "read_point" => ReadPoint(everSeen(rnd.nextInt(everSeen.size)))
          case _ => ReadVersion(0.5)
        }
      }
      script += step
    }
    Plan(script.toSeq, work, data)
  }

  final case class Plan(script: Seq[Step], work: String, data: String)

  final case class Prepared(script: Seq[Step], work: String,
                            docs: Array[Row], schema: StructType)

  /** Set-up: the source `documents` rows the script's writes draw from. */
  def prepare(spark: SparkSession, plan: Plan): Prepared = {
    val df = spark.read.parquet(s"${plan.data}/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    Prepared(plan.script, plan.work, df.orderBy(col("doc_id")).collect(), df.schema)
  }

  /** Table model: the live ids, and every published version's
    * (row count, doc_id sum). */
  private final class Model {
    val live = mutable.HashSet[Long]()
    val versions = mutable.TreeMap[Int, (Long, Long)]()
    def snap(v: Int): Unit = versions(v) = (live.size.toLong, live.sum)
  }

  private final case class Script(opS: Seq[(String, Double)], splits: Seq[OpSplit],
                                  bytesWritten: Long, filesWritten: Int,
                                  compactBytes: Long, userBytes: Long,
                                  liveUserBytes: Long, bytesOnDisk: Long,
                                  failures: Seq[String])

  def run(ctx: Ctx, p: Prepared): Outcome = {
    val scripts = mutable.ArrayBuffer[Script]()
    val warm = runScript(ctx, p.copy(script = p.script.take(WarmupOps)), s"${p.work}/warmup")
    val t0 = System.nanoTime()
    val meter = new Host.Meter
    while (ctx.another(scripts.size, 1, t0))
      scripts += runScript(ctx, p, s"${p.work}/table-${scripts.size}")
    val window = meter.stop()

    val ops = scripts.flatMap(_.opS).toSeq
    val lat = ops.map(_._2)
    val lifecycle = Stats.median(scripts.map(_.opS.map(_._2).sum).toSeq)
    val cpu = window.cpuS / scripts.size
    val last = scripts.last
    val writeAmp = last.bytesWritten.toDouble / last.userBytes
    val e2e = Map(
      "pass_s" -> Metric(lifecycle, "s", cpu, window.stealPct),
      "op_p50_s" -> Metric(Stats.median(lat), "s", cpu, window.stealPct),
      "op_p90_s" -> Metric(Stats.quantile(lat, 0.9), "s", cpu, window.stealPct),
      "ops_per_min" -> Metric(60.0 * lat.size / lat.sum, "1/min", cpu, window.stealPct))
    val named = Map("lifecycle_s" -> e2e("pass_s"), "op_p50_s" -> e2e("op_p50_s"),
      "op_p90_s" -> e2e("op_p90_s"), "write_amp" -> Metric(writeAmp, "ratio"))
    val layers = if (!ctx.traced) Map.empty[String, Metric] else {
      val byKind = ops.groupBy(_._1).map { case (k, xs) =>
        s"snapshot.${k}_s" -> Metric(Stats.median(xs.map(_._2)), "s") }
      val splits = scripts.flatMap(_.splits).toSeq
      Layers.common(splits, scripts.size) ++ byKind ++ Map(
        "snapshot.files_written" -> Metric(last.filesWritten.toDouble, "count"),
        "snapshot.compact_bytes_rewritten" -> Metric(last.compactBytes.toDouble, "bytes"),
        "snapshot.space_per_live_byte" -> Metric(last.bytesOnDisk.toDouble / last.liveUserBytes, "ratio"),
        "snapshot.write_amp" -> Metric(writeAmp, "ratio"),
        "trace.closure_err_pct" -> Metric(splits.map(s =>
          100.0 * math.abs(s.catalystOnlyS + s.jobS + s.gapS - s.wallS) / s.wallS)
          .maxOption.getOrElse(0.0), "%"))
    }
    Outcome(e2e, named, layers, lat.size.toLong,
      warm.failures.map("warm-up " + _) ++ scripts.flatMap(_.failures),
      Map("scripts" -> scripts.size, "samples" -> lat.size, "ops_per_script" -> p.script.size,
        "bytes_written" -> last.bytesWritten, "user_bytes" -> last.userBytes,
        "op_counts" -> p.script.groupBy(_.kind).map { case (k, v) => k -> v.size }))
  }

  private def runScript(ctx: Ctx, p: Prepared, root: String): Script = {
    val spark = ctx.spark
    val m = new Model
    val opS = mutable.ArrayBuffer[(String, Double)]()
    val splits = mutable.ArrayBuffer[OpSplit]()
    val failures = mutable.ArrayBuffer[String]()
    val seen = mutable.HashSet[String]()
    var written = 0L
    var compactBytes = 0L
    var userBytes = 0L
    val rev = mutable.HashMap[Long, Int]()

    def row(id: Long): Row = {
      val d = p.docs((id % p.docs.length).toInt)
      val r = rev.getOrElse(id, 0)
      val text = if (r == 0) d.getString(1) else s"rev$r ${d.getString(1)}"
      Row(id, text, d.getString(2), d.getString(3), text.length.toLong)
    }
    def rowBytes(r: Row): Long = 16L + Seq(1, 2, 3).map(i =>
      r.getString(i).getBytes("UTF-8").length.toLong).sum
    def frame(ids: Seq[Long]) = {
      val rows = ids.map(row)
      userBytes += rows.map(rowBytes).sum
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), p.schema)
    }
    def keys(ids: Seq[Long]) = {
      userBytes += 8L * ids.size
      spark.createDataFrame(java.util.Arrays.asList(ids.map(i => Row(i)): _*),
        new StructType().add(Key, "long"))
    }
    def countSum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col(Key))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def latest = m.versions.lastKey
    /** Sizes of files that appeared under the root since the last walk. */
    def newBytes(): Long = {
      var b = 0L
      val base = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(base)) {
        val st = java.nio.file.Files.walk(base)
        try st.forEach { f =>
          if (java.nio.file.Files.isRegularFile(f) && seen.add(f.toString))
            b += java.nio.file.Files.size(f)
        } finally st.close()
      }
      b
    }

    p.script.foreach { step =>
      val op = ctx.op("snapshot", step.kind) { _ =>
        step match {
          case Create(ids) =>
            Left(SnapshotTable.commit(spark, root, frame(ids), append = false, Some(Key)))
          case Append(ids) =>
            Left(SnapshotTable.commit(spark, root, frame(ids), append = true, Some(Key)))
          case Delete(ids) => Left(SnapshotTable.deleteRows(spark, root, keys(ids), Key))
          case Upsert(ids) =>
            ids.foreach(i => rev(i) = rev.getOrElse(i, 0) + 1)
            Left(SnapshotTable.upsertMor(spark, root, frame(ids), Key))
          case Merge(ids) =>
            ids.foreach(i => rev(i) = rev.getOrElse(i, 0) + 1)
            Left(SnapshotTable.merge(spark, root, frame(ids), Key))
          case Compact => Left(SnapshotTable.compactSmall(spark, root, SmallRows, Some(Key)))
          case Materialize => Left(SnapshotTable.materializeDeletes(spark, root, Key))
          case Expire =>
            val keep = latest - 4
            Left(SnapshotTable.expire(spark, root, keep).versionsKept)
          case ReadPoint(id) =>
            val r = SnapshotTable.readPoint(spark, root, latest, id)
            Right((latest, r.df.where(col(Key) === id).count(), 0L))
          case ReadVersion(pick) =>
            val vs = m.versions.keys.toIndexedSeq
            val v = vs((pick * vs.size).toInt)
            val (n, s) = countSum(SnapshotTable.read(spark, root, v))
            Right((v, n, s))
        }
      }
      opS += step.kind -> op.wallS
      op.split.foreach(splits += _)
      val fresh = newBytes()
      written += fresh
      if (step == Compact || step == Materialize) compactBytes += fresh
      op.result.fold(
        e => failures += s"${step.kind}: ${e.getMessage}",
        {
          case Left(v) => step match {
            case Create(ids) => m.live ++= ids; m.snap(v)
            case Append(ids) => m.live ++= ids; m.snap(v)
            case Delete(ids) => m.live --= ids; m.snap(v)
            case Upsert(ids) => m.live ++= ids; m.snap(v)
            case Merge(ids) => m.live ++= ids; m.snap(v)
            case Compact | Materialize => if (!m.versions.contains(v)) m.snap(v)
            case Expire =>
              val keep = latest - 4
              m.versions.keys.filter(_ < keep).toSeq.foreach(m.versions.remove)
              if (v != m.versions.size) failures += s"expire kept $v versions, model ${m.versions.size}"
            case _ =>
          }
          case Right((v, n, s)) => step match {
            case ReadPoint(id) =>
              val want = if (m.live.contains(id)) 1L else 0L
              if (n != want) failures += s"read_point $id at v$v: $n rows, want $want"
            case _ =>
              if ((n, s) != m.versions(v))
                failures += s"read_version v$v: ($n, $s), want ${m.versions(v)}"
          }
        })
    }

    // closing check: every published version against the model
    val published = SnapshotTable.versions(spark, root)
    if (published != m.versions.keys.toSeq)
      failures += s"published versions ${published.mkString(",")} != model ${m.versions.keys.mkString(",")}"
    published.filter(m.versions.contains).foreach { v =>
      val got = countSum(SnapshotTable.read(spark, root, v))
      if (got != m.versions(v)) failures += s"version $v: $got, want ${m.versions(v)}"
    }
    val liveUser = m.live.toSeq.map(i => rowBytes(row(i))).sum
    val onDisk = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try { var b = 0L; st.forEach(f => if (java.nio.file.Files.isRegularFile(f)) b += java.nio.file.Files.size(f)); b }
      finally st.close()
    }
    Script(opS.toSeq, splits.toSeq, written, seen.size, compactBytes, userBytes,
      liveUser, onDisk, failures.toSeq)
  }
}
