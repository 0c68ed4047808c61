package lakebench

import java.io.PrintStream
import org.apache.spark.sql.SparkSession
import Stats._

/** `lakebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--scale tiny] [--corrupt <kind>] [--work <dir>]`
  *
  * Prints a human-readable report, then as the LAST stdout line one JSON
  * object: correct / attempted / failed and the metrics (the end-to-end
  * set untraced, the per-layer set traced). A failed correctness check
  * prints "CHECK FAILED: ..." to stderr and exits 1 with no result.
  */
object Main {
  val Workloads = Seq("lake_ingest", "lake_query", "ann_serve")

  /** End-to-end metrics, every workload; see NOTES.md for each one's meaning per workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "p50_ms" -> "ms", "throughput_per_s" -> "1/s", "recall" -> "ratio")

  private val sqlClasses = Seq("lookup", "hourly", "latest")
  val PerLayer: Seq[(String, String)] = Seq(
    "GraftLog.append_ms" -> "ms", "GraftLog.segments" -> "count", "GraftLog.list_ms" -> "ms",
    "GraftLogSource.latest_offset_ms" -> "ms", "GraftLogSource.get_batch_ms" -> "ms",
    "GraftLogSource.records_behind" -> "count", "GraftLogSource.ms_behind" -> "ms",
    "microbatch.wal_commit_ms" -> "ms", "microbatch.commit_offsets_ms" -> "ms",
    "microbatch.query_planning_ms" -> "ms", "microbatch.trigger_ms" -> "ms",
    "microbatch.overhead_share" -> "ratio", "microbatch.triggers" -> "count",
    "microbatch.empty_triggers" -> "count", "microbatch.start_ms" -> "ms",
    "microbatch.stop_ms" -> "ms",
    "Deliver.add_batch_ms" -> "ms", "Deliver.jobs_per_flush" -> "count",
    "Deliver.tasks_per_flush" -> "count", "Deliver.task_ms_per_flush" -> "ms",
    "Deliver.cpu_ms_per_flush" -> "ms", "Deliver.parallelism" -> "ratio",
    "Deliver.shuffle_bytes" -> "bytes", "Deliver.spill_bytes" -> "bytes",
    "Deliver.speedup_vs_1core" -> "ratio", "Deliver.files_per_flush" -> "count",
    "Deliver.file_mb_p50" -> "MB",
    "Envelope.decode_ms_per_mb" -> "ms/MB",
    "ManifestReader.chain_files" -> "count", "ManifestReader.latest_files_ms" -> "ms",
    "ZoneMaps.load_ms" -> "ms",
    "LakeCatalog.register_ms" -> "ms") ++
    sqlClasses.flatMap(c => Seq(s"sql.$c.plan_ms" -> "ms", s"sql.$c.exec_ms" -> "ms",
      s"sql.$c.jobs" -> "count", s"sql.$c.tasks" -> "count",
      s"sql.$c.files_scanned" -> "count", s"sql.$c.files_total" -> "count")) ++ Seq(
    "PqIndex.serve_plan_ms" -> "ms", "PqIndex.serve_exec_ms" -> "ms",
    "PqIndex.serve_jobs" -> "count", "PqIndex.serve_tasks" -> "count",
    "PqIndex.serve_shuffle_bytes" -> "bytes",
    "jvm.driver_cpu_ms" -> "ms", "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "stored_bytes_ratio" -> "ratio") ++
    EndToEnd.map { case (m, u) => s"overhead.$m" -> u }

  /** Spark task threads: the client thread (the one that calls into the
    * program) takes the remaining core.
    */
  def cores: Int = math.max(1, Runtime.getRuntime.availableProcessors - 1)

  @volatile private var workDir = ".bench_build/work"

  def session(n: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric value $x is not a number")
    java.lang.Double.toString(x)
  }

  def main(args: Array[String]): Unit = {
    val stdout = System.out
    System.setOut(new PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.err), true))
    val workload = arg(args, "workload").getOrElse("")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}, got '$workload'")
    val seed = arg(args, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "trace").contains("1")
    val tiny = arg(args, "scale").contains("tiny")
    val corrupt = arg(args, "corrupt").getOrElse("none")
    workDir = arg(args, "work").getOrElse(".bench_build/work")
    val code = try {
      val out = run(workload, seed, seconds, traced, tiny, corrupt)
      out.report.foreach(stdout.println)
      val metrics = (if (traced) PerLayer else EndToEnd).map { case (m, u) =>
        s""""$m": {"value": ${num(out.e2e.getOrElse(m, out.layer.getOrElse(m, 0.0)))}, "unit": "$u"}"""
      }
      stdout.println(s"""{"correct": true, "attempted": ${out.attempted}, "failed": ${out.failed}, """ +
        s""""metrics": {${metrics.mkString(", ")}}}""")
      stdout.flush()
      0
    } catch {
      case e: CheckFailed =>
        System.err.println(s"CHECK FAILED: ${e.getMessage}")
        1
      case e: Throwable =>
        System.err.println(s"RUN FAILED: $e")
        e.printStackTrace()
        2
    } finally SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    System.exit(code)
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean, tiny: Boolean,
      corrupt: String): Outcome = {
    val spark = session(cores)
    val tracer = new Tracer(spark, s"$workload-seed$seed-${ProcessHandle.current().pid()}")
    val ctx = Ctx(spark, seed, seconds, tiny, corrupt, s"$workDir/$workload-$seed", tracer)
    Lake.rm(spark, ctx.work)
    val w: Workload = workload match {
      case "lake_ingest" => new LakeIngest(ctx)
      case "lake_query" => new LakeQuery(ctx)
      case "ann_serve" => new AnnServe(ctx)
    }
    val out = new Outcome
    try {
      // set-up rounds; a traced run traces round 1 only (round 0 runs cold)
      val setup = (0 until w.rounds).map { i =>
        if (traced && i == 1) tracer.start()
        val s = timeMs(w.setupRound(i))._2 / 1000
        tracer.stop()
        s
      }
      out.e2e("setup_s") = median(setup)
      out.report += f"$workload: setup_s rounds=${setup.map(s => f"$s%.3f").mkString(",")}"
      w.warm()
      if (!traced) out.e2e ++= w.window(out)
      else {
        // untraced, traced, untraced: the per-layer metrics come from the
        // traced window, and its difference from the mean of the untraced
        // ones (which cancels a steady warm-up trend) is the tracing
        // overhead of each end-to-end metric
        val before = w.window(out)
        tracer.start()
        val jvm = new JvmWindow
        val withTrace = w.window(out)
        out.layer("jvm.driver_cpu_ms") = jvm.cpuMs
        out.layer("jvm.gc_ms") = jvm.gcMs
        out.layer("jvm.heap_peak_mb") = jvm.heapPeakMb
        tracer.stop()
        val after = w.window(out)
        tracer.start()
        before.foreach { case (m, v) => out.layer(s"overhead.$m") = withTrace(m) - (v + after(m)) / 2 }
        // round 2 runs warmer than the traced round 1, so this overstates
        out.layer("overhead.setup_s") = setup(1) - setup(2)
        val appends = tracer.named("GraftLog.append").map(_.ms)
        if (appends.nonEmpty) out.layer("GraftLog.append_ms") = median(appends)
      }
      w.check(out)
      if (traced) {
        w.layers(out)
        val path = java.nio.file.Paths.get(".bench_build", "traces", s"${tracer.runId}.jsonl")
        tracer.write(path)
        out.report += s"$workload: spans written to $path"
      }
      out
    } finally SparkSession.getActiveSession.foreach(Lake.rm(_, ctx.work))
  }
}
