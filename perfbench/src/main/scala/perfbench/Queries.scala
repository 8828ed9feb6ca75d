package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Caches, SparkEntry}
import graft.operators._

/** `queries`: a fixed mix of `SparkEntry` queries, each run once cold
  * and then in `MinWarmPasses` warm passes (more if they fit), with
  * `Caches.release` after each query as the engine's board does. The
  * seed sets the run order. Every result is written as parquet, one
  * dump per pass, for the DuckDB oracle compare that follows the run.
  *
  * The mix has two halves: planning-bound queries (under a second warm),
  * which move the latency percentiles, and executor- and kernel-heavy
  * ones (custom Execs, GraphLoops, components, Lloyd, the ANN index),
  * which move throughput. */
object Queries extends Workload {
  type In = Plan
  type Prep = Plan

  val Planning: Seq[String] = Seq(
    "q1_agg", "q3_join", "q_window_funcs", "ev_sessionize", "text_tfidf")

  /** One query per kernel or custom operator: SortedIntersectCount,
    * components, GraphLoops, CoOccurrencePairs, the ANN index store,
    * TopKPerKey, LloydKernel. */
  val Heavy: Seq[String] = Seq(
    "dedup_prefix_join", "dedup_embed_cluster", "graph_pagerank",
    "graph_triangles", "ann_index_search", "retrieval_bm25", "kmeans_full")

  val Mix: Seq[String] = Planning ++ Heavy

  /** Warm passes: at least this many, more only while they fit in
    * `--seconds`, so a query's warm latency is a median over the same
    * number of samples whatever the host's speed. */
  val MinWarmPasses = 2

  /** The `SparkEntry` module each query comes from. */
  lazy val moduleOf: Map[String, String] = Seq(
    "KMeansQueries" -> KMeansQueries.queries, "RelationalQueries" -> RelationalQueries.queries,
    "FunctionQueries" -> FunctionQueries.queries, "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries, "AnnIndex" -> AnnIndex.queries,
    "TextAnalysis" -> TextAnalysis.queries, "Multimodal" -> Multimodal.queries,
    "Jpeg" -> Jpeg.queries, "Gif" -> Gif.queries, "Archives" -> Archives.queries,
    "Warc" -> Warc.queries, "Adpcm" -> Adpcm.queries, "Avi" -> Avi.queries,
    "Pipeline" -> Pipeline.queries, "Events" -> Events.queries)
    .flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  final case class Plan(order: Seq[String], dump: String)

  def generate(seed: Long, work: String, data: String): Plan =
    Plan(new scala.util.Random(seed).shuffle(Mix), s"$work/dump")

  def prepare(spark: SparkSession, in: Plan): Plan = {
    val missing = in.order.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry: ${missing.mkString(",")}")
    in
  }

  private final case class Run(name: String, pass: Int, wallS: Double,
                               buildS: Double, split: Option[OpSplit])

  def run(ctx: Ctx, in: Plan): Outcome = {
    val spark = ctx.spark
    val runs = mutable.ArrayBuffer[Run]()
    val failures = mutable.LinkedHashSet[String]()
    var attempted = 0L
    def pass(p: Int): Host.Window = {
      val meter = new Host.Meter
      in.order.foreach { name =>
        attempted += 1
        var buildS = 0.0
        val op = ctx.op("query", name) { id =>
          val (df, b) = ctx.step(id, "build") { SparkEntry.queries(name)(spark, ctx.data) }
          buildS = b
          ctx.step(id, "execute") {
            df.write.mode("overwrite").parquet(s"${in.dump}/p$p/$name")
          }
        }
        Caches.release(spark)
        op.result.failed.foreach(e => failures += s"$name: ${e.getMessage}")
        if (op.result.isSuccess) runs += Run(name, p, op.wallS, buildS, op.split)
      }
      meter.stop()
    }
    val cold = pass(0)
    val warmWindows = mutable.ArrayBuffer[Host.Window]()
    val t0 = System.nanoTime()
    while (ctx.another(warmWindows.size, MinWarmPasses, t0))
      warmWindows += pass(warmWindows.size + 1)

    // every pass's dump is compared with the DuckDB oracle afterwards
    val oracle = Json(SparkEntry.oracleSql.filter { case (k, _) => in.order.contains(k) })
    (0 to warmWindows.size).foreach { p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"${in.dump}/p$p"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${in.dump}/p$p/oracle_sql.json"), oracle)
    }

    val coldRuns = runs.filter(_.pass == 0).toSeq
    val warm = runs.filter(_.pass > 0).groupBy(_.name)
      .map { case (n, rs) => n -> Stats.median(rs.map(_.wallS).toSeq) }
    val warmS = warm.values.toSeq
    val coldS = coldRuns.map(_.wallS).sum
    val passWall = Stats.median(warmWindows.map(_.wallS).toSeq)
    val warmCpu = warmWindows.map(_.cpuS).sum / warmWindows.size
    val warmSteal = warmWindows.map(_.stealPct).sum / warmWindows.size
    val e2e = if (warmS.isEmpty) Map.empty[String, Metric] else Map(
      "pass_s" -> Metric(coldS, "s", cold.cpuS, cold.stealPct),
      "op_p50_s" -> Metric(Stats.median(warmS), "s", warmCpu, warmSteal),
      "op_p90_s" -> Metric(Stats.quantile(warmS, 0.9), "s", warmCpu, warmSteal),
      "ops_per_min" -> Metric(60.0 * in.order.size / passWall, "1/min", warmCpu, warmSteal))
    val named = if (e2e.isEmpty) Map.empty[String, Metric] else Map(
      "queries_cold_s" -> e2e("pass_s"), "query_p50_s" -> e2e("op_p50_s"),
      "query_p90_s" -> e2e("op_p90_s"), "queries_per_min" -> e2e("ops_per_min"))

    val passes = 1 + warmWindows.size
    val layers = if (!ctx.traced) Map.empty[String, Metric] else {
      val splits = runs.flatMap(_.split).toSeq
      val byModule = runs.groupBy(r => moduleOf(r.name))
        .map { case (m, rs) => s"module.${m}_s" -> Metric(rs.map(_.wallS).sum / passes, "s") }
      Layers.common(splits, passes) ++ byModule ++ Map(
        "operators.build_s" -> Metric(runs.map(_.buildS).sum / passes, "s"),
        "trace.closure_err_pct" -> Metric(runs.flatMap(_.split).map(s =>
          100.0 * math.abs(s.catalystOnlyS + s.jobS + s.gapS - s.wallS) / s.wallS)
          .maxOption.getOrElse(0.0), "%"))
    }
    val perQuery = runs.groupBy(_.name).map { case (n, rs) =>
      n -> Map[String, Any]("module" -> moduleOf(n),
        "cold_s" -> rs.find(_.pass == 0).map(_.wallS),
        "warm_s" -> warm.get(n),
        "warm_passes_s" -> rs.filter(_.pass > 0).sortBy(_.pass).map(_.wallS),
        "split" -> rs.filter(_.pass > 0).flatMap(_.split).headOption.map(s => Map(
          "wall_s" -> s.wallS, "build_s" -> rs.filter(_.pass > 0).head.buildS,
          "analysis_s" -> s.analysisS, "optimization_s" -> s.optimizationS,
          "planning_s" -> s.planningS, "catalyst_only_s" -> s.catalystOnlyS,
          "job_s" -> s.jobS, "jobs" -> s.jobs, "gap_s" -> s.gapS,
          "leak_s" -> s.leakS)))
    }
    Outcome(e2e, named, layers, attempted, failures.toSeq,
      Map("order" -> in.order, "queries" -> perQuery, "samples" -> warmS.size, "oracle_dumps" -> (0 to warmWindows.size).map(p => s"${in.dump}/p$p"),
        "passes" -> passes, "warm_pass_walls_s" -> warmWindows.map(_.wallS)))
  }

  override def cleanup(spark: SparkSession): Unit = { Caches.releaseAll(spark); () }
}
