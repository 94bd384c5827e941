package graft.flowbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Entry point: one workload, one seed, one JSON result line.
  *
  * Untraced (`--trace 0`) the result carries the end-to-end metrics;
  * traced (`--trace 1`) runs at least twice the operations, tracing half
  * of them (see [[Meter.opCount]]), and the result carries the per-layer
  * metrics plus the tracing overhead: traced minus untraced operation
  * time over equal numbers of each.
  */
object FlowBench {

  val Workloads: Map[String, (SparkSession, Meter, Flow.Conf) => Flow.Outcome] = Map(
    "sync_ingest" -> SyncFlow.run,
    "dashboard_session" -> DashFlow.run,
    "corpus_run" -> CorpusFlow.run)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "cpu_s" -> "s", "peak_heap_mb" -> "MiB", "op_p50_s" -> "s")

  val Phases = Seq("sync.full", "sync.pass", "dash.query", "dash.write", "corpus.ingest", "corpus.curate")

  val PerLayer: Seq[(String, String)] = Seq(
    "flow.sync_full_s" -> "s", "flow.sync_pass_p50_s" -> "s", "flow.sync_write_amp" -> "ratio",
    "flow.query_p50_s" -> "s", "flow.query_p90_s" -> "s", "flow.refresh_p50_s" -> "s",
    "flow.corpus_pages_per_s" -> "pages/s", "flow.failed_frac" -> "ratio",
    "jdbc.statements_per_pass" -> "count", "jdbc.partitioned_statements_per_pass" -> "count",
    "jdbc.table_statements_per_pass" -> "count", "jdbc.rows_fetched_per_pass" -> "count",
    "jdbc.fetch_s_per_pass" -> "s", "jdbc.useful_frac" -> "ratio",
    "jdbc.statements_full" -> "count", "jdbc.rows_fetched_full" -> "count", "jdbc.fetch_s_full" -> "s",
    "sync.table_s" -> "s", "sync.partitioned_s" -> "s", "sync.compact_s" -> "s",
    "sync.bytes_written_per_pass" -> "B", "sync.table_bytes_written_per_pass" -> "B",
    "sync.files_written_per_pass" -> "count", "sync.partitions_rewritten_per_pass" -> "count",
    "sync.target_files" -> "count",
    "cache.hit_frac" -> "ratio", "cache.agg_hit_s" -> "s", "cache.agg_refresh_s" -> "s",
    "cache.agg_initial_s" -> "s", "cache.rows_hit_s" -> "s", "cache.rows_refresh_s" -> "s",
    "cache.rows_initial_s" -> "s", "cache.bytes" -> "B", "cache.slices" -> "count",
    "ops.lttb_s" -> "s", "ops.bucket_s" -> "s", "api.stats_s" -> "s", "dash.sync_s" -> "s",
    "corpus.ingest_s" -> "s", "corpus.curate_s" -> "s",
    "corpus.pages_kept_frac" -> "ratio", "corpus.docs_out_frac" -> "ratio") ++
    Phases.flatMap(p => Seq(s"spark.$p.stages" -> "count", s"spark.$p.tasks" -> "count",
      s"spark.$p.task_cpu_s" -> "s", s"spark.$p.gc_s" -> "s", s"spark.$p.shuffle_write_mb" -> "MiB",
      s"spark.$p.input_mb" -> "MiB", s"spark.$p.spill_mb" -> "MiB")) ++
    Seq("host.calib_s" -> "s", "host.calib_end_s" -> "s",
      "trace.overhead_s" -> "s", "trace.untraced_wall_s" -> "s")

  /** The workload-level numbers the flows are read by (untraced runs
    * print them on a summary line; traced runs report them as `flow.*`).
    */
  def flowMetrics(workload: String, m: Meter, o: Flow.Outcome): Seq[(String, Double)] = {
    val failedFrac = Meter.ratio(o.failed, o.attempted)
    workload match {
      case "sync_ingest" => Seq("flow.sync_full_s" -> m.median("flow.sync_full_s"),
        "flow.sync_pass_p50_s" -> m.median("op_s"), "flow.failed_frac" -> failedFrac)
      case "dashboard_session" => Seq("flow.query_p50_s" -> m.median("op_s"),
        "flow.query_p90_s" -> Meter.quantile(m.all("op_s"), 0.9),
        "flow.refresh_p50_s" -> m.median("refresh_s"), "flow.failed_frac" -> failedFrac)
      case _ => Seq("flow.corpus_pages_per_s" -> Meter.ratio(CorpusFlow.Spec.pages, m.median("op_s")),
        "flow.failed_frac" -> failedFrac)
    }
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** The session every run uses: local[4], as a deployment would build it. */
  def session(work: String): SparkSession = {
    val spark = GraftSession.builder()
      .master("local[4]")
      .appName("flowbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val trace = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val flow = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))

    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    Flow.log(f"session start $sessionS%.2f s")

    // set-up is repeated (and its median reported) only where setup_s is
    // reported
    def once(traced: Boolean): (Meter, Flow.Outcome) = {
      val m = new Meter(spark, traced)
      val o = flow(spark, m, Flow.Conf(seed, seconds, work, setupReps = if (traced) 1 else 3))
      m.samples.foreach { case (k, v) =>
        Flow.log(f"span $k%-28s n=${v.size}%4d p50=${m.median(k)}%.4f sum=${v.sum}%.3f")
      }
      Flow.log(f"setup=${o.setupS}%.3f wall=${m.wallS}%.3f cpu=${m.cpuS}%.3f heap=${m.peakHeapMb}%.1f traced=$traced")
      Flow.log("op_s: " + m.all("op_s").map(v => f"$v%.3f").mkString(" "))
      (m, o)
    }

    val (metrics, units, outcomes) =
      if (!trace) {
        val (m, o) = once(traced = false)
        val values = Seq("setup_s" -> (sessionS + o.setupS), "wall_s" -> m.wallS, "cpu_s" -> m.cpuS,
          "peak_heap_mb" -> m.peakHeapMb, "op_p50_s" -> m.median("op_s"))
        Flow.log(s"$workload flow metrics: " + flowMetrics(workload, m, o)
          .map { case (k, v) => s"${k.stripPrefix("flow.")}=${num(v)}" }.mkString(" ") +
          s" ops=${m.n("op_s")} attempted=${o.attempted} failed=${o.failed}")
        // after the timed work, so it warms nothing the run measures
        Flow.log(f"host calib_end_s=${Flow.calibrate(spark)}%.4f")
        (values, EndToEnd, Seq(o))
      } else {
        val calibStart = Flow.calibrate(spark)
        val (mt, ot) = once(traced = true)
        val calibEnd = Flow.calibrate(spark)
        val medians = Seq("sync.table_s", "sync.partitioned_s", "sync.compact_s",
          "cache.agg_hit_s", "cache.agg_refresh_s", "cache.agg_initial_s", "cache.rows_hit_s",
          "cache.rows_refresh_s", "cache.rows_initial_s", "ops.lttb_s", "ops.bucket_s",
          "api.stats_s", "dash.sync_s", "corpus.ingest_s", "corpus.curate_s")
          .map(k => k -> mt.median(k))
        val got = (flowMetrics(workload, mt, ot) ++ ot.layer ++ medians ++ mt.sparkPhases(Phases) ++
          Seq("host.calib_s" -> calibStart, "host.calib_end_s" -> calibEnd,
            "trace.overhead_s" -> (mt.total("trace.on_s") - mt.total("trace.off_s")),
            "trace.untraced_wall_s" -> mt.total("trace.off_s"))).toMap
        (PerLayer.map { case (k, _) => k -> got.getOrElse(k, 0.0) }, PerLayer, Seq(ot))
      }

    val failures = outcomes.flatMap(_.checkFailures)
    failures.foreach(f => Flow.log(s"check failed: $f"))
    val attempted = outcomes.map(_.attempted).sum
    val failed = outcomes.map(_.failed).sum
    val correct = failures.isEmpty && failed == 0
    val unit = units.toMap
    val body = metrics.map { case (k, v) => s""""$k": {"value": ${num(v)}, "unit": "${unit(k)}"}""" }
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }
}
