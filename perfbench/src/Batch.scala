package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The batch workload: one client runs the TPC-H query set pass after pass
  * in one session. The first pass is the cold one (codegen and JIT
  * included). Then `WarmupPasses` passes let the JIT settle, and measured
  * passes follow until `--seconds` of measured time have been spent, and at
  * least `MinMeasuredPasses` of them. Each query is built
  * (`SparkEntry.queries(name)(spark, dir)`) and written to parquet, every
  * pass into a directory of its own; the cold pass and the last pass are
  * kept for the DuckDB check the launcher makes after this process ends.
  *
  * A query's warm time is its median over the measured passes. The passes
  * before them are still getting faster (JIT), so a figure taken from them
  * moves with how far the JIT had got; a median over the settled passes
  * does not move with a single slow pass. */
object Batch {

  /** TPC-H shapes: the big scan-aggregate (q1), the multi-way join (q5), an
    * outer join under a nested aggregate (q13), a semi-join on an aggregate
    * (q18) and the exists/not-exists self-joins (q21). Five of the 22, so
    * that a run stays short enough to repeat. */
  val Tpch: Seq[String] = Seq(
    "q1_agg", "q5_region", "q13_custdist", "q18_large_orders", "q21_waiting")

  /** Unmeasured passes between the cold pass and the measured ones. */
  val WarmupPasses = 2

  /** Measured passes run until `--seconds` of measured time are spent, and
    * never fewer than this. */
  val MinMeasuredPasses = 4

  /** The tables the workload reads, for the `tables.open_ms` probe. */
  val TpchTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  private final case class Run(name: String, buildS: Double, execS: Double,
      build: Span, exec: Span) {
    def wallS: Double = buildS + execS
  }

  def run(spark: SparkSession, a: PerfBench.Args, trace: Option[Trace]): Map[String, Any] = {
    val names = Tpch
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"queries not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val setupS = PerfBench.sinceStart(a)
    val errors = mutable.ArrayBuffer[String]()
    var attempted = 0

    def one(name: String, dir: String): Option[Run] = {
      attempted += 1
      trace.foreach(_.take())
      try {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, a.data)
        val buildS = (System.nanoTime() - t0) / 1e9
        val build = trace.fold(Span())(_.take())
        val t1 = System.nanoTime()
        df.write.mode("overwrite").parquet(s"$dir/$name")
        val execS = (System.nanoTime() - t1) / 1e9
        val exec = trace.fold(Span())(_.take())
        Some(Run(name, buildS, execS, build, exec))
      } catch {
        case NonFatal(e) =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          None
      } finally spark.sharedState.cacheManager.clearCache()
    }

    // Every pass runs the whole set in the same order: the inputs are the
    // fixed test tables, so the seed changes nothing in a batch run.
    def pass(dir: String): Seq[Run] = names.flatMap(one(_, dir))

    val coldDir = s"${a.work}/out/cold"
    val cold = pass(coldDir)
    val warm = mutable.ArrayBuffer[Seq[Run]]()
    def measured: Seq[Seq[Run]] = warm.toSeq.drop(WarmupPasses)
    while (measured.size < MinMeasuredPasses || measured.map(_.map(_.wallS).sum).sum < a.seconds)
      warm += pass(s"${a.work}/out/warm${warm.size}")
    val lastDir = s"${a.work}/out/warm${warm.size - 1}"

    // Median measured run of each query that ran at least once.
    val warmS = measured.flatten.groupBy(_.name).values.map(rs => Stats.median(rs.map(_.wallS))).toSeq
    val all = cold +: warm.toSeq

    val report = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "attempted" -> attempted,
      "failed" -> errors.size,
      "errors" -> errors.toSeq,
      "queries" -> names,
      "oracle_sql" -> names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap,
      // Only the queries that ran in a pass are checked; the rest failed.
      "outputs" -> Map(
        "cold" -> Map("dir" -> coldDir, "queries" -> cold.map(_.name)),
        "warm" -> Map("dir" -> lastDir, "queries" -> warm.last.map(_.name))),
      "metrics" -> Map(
        "cold_s" -> cold.map(_.wallS).sum,
        "warm_s" -> warmS.sum,
        "latency_ms" -> Stats.geomean(warmS.map(_ * 1e3))),
      "latency_samples" -> warmS.size,
      "warmup_passes" -> WarmupPasses,
      "measured_passes" -> measured.size,
      "passes" -> all.zipWithIndex.map { case (runs, i) =>
        mutable.LinkedHashMap[String, Any](
          "pass" -> i, "wall_s" -> runs.map(_.wallS).sum,
          "build_s" -> runs.map(_.buildS).sum, "exec_s" -> runs.map(_.execS).sum,
          "queries" -> runs.map(r => r.name -> (Map("build_s" -> r.buildS, "exec_s" -> r.execS) ++
            trace.fold(Map.empty[String, Any])(_ => Map(
              "build" -> r.build.toMap, "exec" -> r.exec.toMap)))).toMap)
      })

    trace.foreach { t =>
      def span(runs: Seq[Run], f: Run => Span) = runs.map(f).foldLeft(Span())(_ + _)
      // Each pass, as a whole, must fit in the slots it had.
      val bound = all.map(runs => t.withinSlots(
        span(runs, r => r.build + r.exec), runs.map(_.wallS).sum))
      val last = warm.last
      val build = span(last, _.build)
      val exec = span(last, _.exec)
      val plan = build + exec
      val codegen = span(cold, r => r.build + r.exec)
      val execS = last.map(_.execS).sum
      report("slot_bound_ok") = bound.forall(identity)
      report("layers") = Layers.empty ++ Map(
        "build.s" -> last.map(_.buildS).sum,
        "build.jobs" -> build.jobs.toDouble,
        "tables.open_ms" -> Layers.openTables(spark, a.data, TpchTables),
        "plan.analysis_ms" -> plan.analysisMs.toDouble,
        "plan.optimizer_ms" -> plan.optimizerMs.toDouble,
        "plan.planning_ms" -> plan.planningMs.toDouble,
        "codegen.compile_ms" -> codegen.compileNs / 1e6,
        "codegen.classes" -> codegen.classes.toDouble) ++
        Layers.exec(exec, execS, t)
    }
    report.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** The per-layer metric set every traced run reports (0 where a workload
  * does not use the layer). */
object Layers {
  val names: Seq[String] = Seq(
    "build.s", "build.jobs", "tables.open_ms",
    "plan.analysis_ms", "plan.optimizer_ms", "plan.planning_ms",
    "codegen.compile_ms", "codegen.classes",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.skew_max", "exec.slot_util",
    "stream.batches", "stream.data_batch_ratio", "stream.rows_per_batch",
    "stream.trigger_ms", "stream.add_batch_ms", "stream.query_planning_ms",
    "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "stream.state_commit_ms", "stream.state_rows", "stream.state_rows_updated",
    "stream.state_rows_removed", "stream.state_memory_mb", "stream.rows_dropped_late",
    "stream.backlog_blocks_max", "stream.feeder_late_ms_max",
    "sink.ms", "sink.retries",
    "jvm.gc_ms", "jvm.heap_peak_mb")

  def empty: Map[String, Double] = names.map(_ -> 0.0).toMap

  def exec(s: Span, wallS: Double, t: Trace): Map[String, Double] = Map(
    "exec.s" -> wallS, "exec.jobs" -> s.jobs.toDouble, "exec.stages" -> s.stages.toDouble,
    "exec.tasks" -> s.tasks.toDouble, "exec.task_run_s" -> s.taskRunMs / 1e3,
    "exec.task_cpu_s" -> s.taskCpuNs / 1e9,
    "exec.shuffle_read_mb" -> s.shuffleReadBytes / 1048576.0,
    "exec.shuffle_write_mb" -> s.shuffleWriteBytes / 1048576.0,
    "exec.spill_mb" -> s.spillBytes / 1048576.0,
    "exec.skew_max" -> s.skewMax, "exec.slot_util" -> t.slotUtil(s, wallS))

  /** One `Tables.table` call per table: each opens the parquet file and
    * infers its schema. */
  def openTables(spark: SparkSession, dir: String, tables: Seq[String]): Double =
    tables.map { name =>
      val t0 = System.nanoTime()
      graft.ops.Tables.table(spark, dir, name)
      (System.nanoTime() - t0) / 1e6
    }.sum
}
