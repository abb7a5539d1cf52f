package graft.perfbench

import org.apache.spark.sql.SparkSession

final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, cores: Int,
    offeredRate: Double, runDir: String)

/** What one measured pass of a workload produced. `latencies` holds one
  * sample per operation in seconds, `+Inf` for a failed one; `named` are
  * the workload's own user-facing metrics and `layers` its per-layer
  * metrics (traced passes only). */
final case class Pass(workload: String, setupS: Seq[Double], rate: Double,
    latencies: Seq[Double], attempted: Long, failed: Long,
    mismatches: Seq[String], named: Seq[(String, Double, String)],
    ops: Seq[OpRecord], layers: Map[String, Double], failures: Seq[String] = Nil)

/** Benchmark entry point (see perfbench/README.md):
  * `--workload <pg_snapshot|pg_cdc|curate_stream> --seed <n> --seconds <s>
  * --trace <0|1> --cdc-offered-rate <events/s>`. Prints report lines
  * prefixed `# ` and, last, one JSON result line. */
object Main {
  val Workloads = Seq("pg_snapshot", "pg_cdc", "curate_stream")

  def warn(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Full collection before a timed operation, so no operation pays for
    * garbage an earlier one left. */
  def settle(): Unit = System.gc()

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def session(cores: Int, runDir: String, countFs: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$runDir/hadoop")
    val s = (if (!countFs) b else b
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def runPass(ctx: Ctx, workload: String, seconds: Double): Pass = workload match {
    case "pg_snapshot" => PgBench.snapshot(ctx, seconds)
    case "pg_cdc" => PgBench.cdc(ctx, seconds)
    case "curate_stream" => CurateBench.run(ctx, seconds)
  }

  /** The same work at one core, and the ratio of its time to the N-core
    * pass's: near 1 when the workload is bound by the Spark job floor,
    * near N when it is compute-bound. */
  private def coreScaling(one: Ctx, p: Pass, seconds: Double): (Pass, Double) = p.workload match {
    case "pg_snapshot" =>
      val r = PgBench.snapshot(one, seconds, passes = Some(1))
      (r, Stats.median(r.latencies) / Stats.median(p.latencies))
    case "pg_cdc" =>
      def drainS(x: Pass) = x.named.find(_._1 == "cdc_drain_s").get._2
      val r = PgBench.cdc(one, seconds, phase2 = false, setups = 1)
      (r, drainS(r) / drainS(p))
    case "curate_stream" =>
      val r = CurateBench.run(one, seconds, triggers = Some(1))
      (r, r.latencies.head / p.latencies.head)
  }

  /** Largest heap occupancy left after any garbage collection so far:
    * the live working set, independent of when the collector ran. */
  private object LiveHeap {
    @volatile var peakBytes = 0L
    def install(): Unit = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.stream
              .mapToLong(_.getUsed).sum
            if (used > peakBytes) peakBytes = used
          }
        }, null, null)
      case _ => ()
    }
    def peakMb: Double = peakBytes / 1048576.0
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** The end-to-end metrics of BENCHMARK.json, from one pass. Latency is
    * the median over successful operations: when failures reach the
    * median there is no finite value, so failures are carried by
    * `success_share` instead (the report prints the failure-inclusive
    * percentiles). */
  private def endToEnd(p: Pass, bootS: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", bootS + Stats.median(p.setupS), "s"),
    ("throughput_per_s", p.rate, "1/s"),
    ("latency_p50_ms", p.latencies.filterNot(_.isInfinite) match {
      case Seq() => Double.NaN
      case ok => Stats.median(ok) * 1e3
    }, "ms"),
    ("success_share", 1.0 - p.failed.toDouble / math.max(1L, p.attempted), "share"),
    ("peak_live_heap_mb", LiveHeap.peakMb, "MB"))

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(json).mkString("[", ", ", "]")
    case null => "null"
    case o => json(o.toString)
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): Map[String, Map[String, Any]] =
    ms.map { case (n, v, u) => n -> Map[String, Any]("value" -> v, "unit" -> u) }.toMap

  private def report(kind: String, fields: Map[String, Any]): Unit = println(s"# $kind ${json(fields)}")

  private def reportPass(p: Pass, bootS: Double, label: String): Unit = {
    report("workload", Map("workload" -> p.workload, "pass" -> label,
      "correct" -> p.mismatches.isEmpty, "attempted" -> p.attempted, "failed" -> p.failed,
      "failed_share" -> p.failed.toDouble / math.max(1L, p.attempted),
      "setup_samples_s" -> p.setupS, "op_samples_s" -> p.ops.map(_.seconds),
      "metrics" -> metricsJson(p.named ++ Seq(
        ("setup_s", bootS + Stats.median(p.setupS), "s"),
        ("failed_share", p.failed.toDouble / math.max(1L, p.attempted), "share"),
        ("peak_rss_mb", peakRssMb, "MB"), ("peak_live_heap_mb", LiveHeap.peakMb, "MB")))))
    p.failures.foreach(f => println(s"# FAILED ${p.workload}: $f"))
    p.mismatches.foreach(m => println(s"# MISMATCH ${p.workload}: $m"))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val rate = opts.getOrElse("cdc-offered-rate", "4000").toDouble
    val runDir = opts.getOrElse("run-dir", "target/perfbench-run")
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmBootS = sys.props.get("perfbench.launchMillis")
      .map(l => (System.currentTimeMillis() - l.toLong) / 1e3).getOrElse(0.0)

    LiveHeap.install()
    val t0 = System.nanoTime()
    var spark = session(cores, runDir, countFs = trace)
    val bootS = jvmBootS + (System.nanoTime() - t0) / 1e9
    report("env", Map("nproc" -> cores, "java" -> System.getProperty("java.version"),
      "spark" -> spark.version, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cdc_offered_events_per_s" -> rate, "jvm_boot_s" -> jvmBootS, "spark_start_s" -> (bootS - jvmBootS)))

    val tracer = new Tracer(trace)
    tracer.attach(spark.sparkContext)
    val ctx = Ctx(spark, tracer, seed, cores, rate, runDir)
    val p = runPass(ctx, workload, seconds)
    reportPass(p, bootS, "measured")
    val metrics =
      if (!trace) endToEnd(p, bootS)
      else {
        val kernels = Kernels.run(ctx)
        kernels.foreach(k => report("kernel", Map("metric" -> k.metric, "rows_per_s" -> k.rowsPerS,
          "input_rows" -> k.rows, "input_bytes" -> k.bytes)))
        // spans stay in memory during the run and are written once here,
        // next to (not inside) the run directory, which is removed
        val spansFile = new java.io.File(new java.io.File(runDir).getAbsoluteFile.getParentFile,
          s"spans-$workload-$seed.jsonl")
        val w = new java.io.PrintWriter(spansFile, "UTF-8")
        try (tracer.driverSpans ++ tracer.jobSpans).foreach { sp =>
          w.println(json(Map("name" -> sp.name, "layer" -> sp.layer, "start_ns" -> sp.start,
            "end_ns" -> sp.end, "parent" -> sp.parent, "op" -> sp.op)))
        } finally w.close()
        report("tracing", Map("workload" -> workload, "spans_file" -> spansFile.getPath,
          "spans" -> (tracer.driverSpans.size + tracer.jobSpans.size),
          "self_s_by_layer" -> tracer.selfSecondsByLayer,
          "traced_ops" -> p.ops.count(_.traced), "untraced_ops" -> p.ops.count(!_.traced),
          "recording_s" -> tracer.recordingSeconds,
          "traced_minus_untraced_op_share" -> OpRecord.tracedMinusUntraced(p.ops)))
        spark.stop()
        spark = session(1, runDir)
        val (ref, scaling) = coreScaling(ctx.copy(spark = spark, tracer = new Tracer(false), cores = 1), p, seconds)
        reportPass(ref, bootS, "single-core reference")
        val layers = p.layers ++ OpRecord.layers(tracer, p.ops) ++
          kernels.map(k => k.metric -> k.rowsPerS) + ("spark.core_scaling" -> scaling)
        Layers.named.foreach { l =>
          val v = if (l.name == "core_scaling") Some(scaling) else layers.get(l.name)
          if (l.workload == workload || l.workload == "all")
            report("layer", Map("metric" -> (if (l.name == "core_scaling")
                l.module.stripPrefix("graft.") + ".core_scaling" else l.name),
              "value" -> v.getOrElse(Double.NaN), "unit" -> l.unit, "module" -> l.module, "moves" -> l.moves))
        }
        Layers.perRun.map { case (n, u) => (n, layers.getOrElse(n, Double.NaN), u) }
      }
    spark.stop()
    println(json(Map("correct" -> p.mismatches.isEmpty, "attempted" -> p.attempted,
      "failed" -> p.failed, "metrics" -> metricsJson(metrics))))
  }
}

/** A per-layer metric, the module it measures, the end-to-end metric an
  * optimisation of that module should move, and the workload it is
  * measured on (`all`: every traced run). */
final case class LayerMetric(name: String, unit: String, module: String, moves: String, workload: String)

object Layers {
  /** Reported in the JSON result of every traced run (BENCHMARK.json
    * `per_layer`): measured on whichever workload is traced. */
  val perRun: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.task_cpu_s_per_op" -> "s",
    "spark.shuffle_bytes_per_op" -> "bytes", "driver.gap_s_per_op" -> "s",
    "spark.core_scaling" -> "ratio", "trace.overhead_share" -> "share",
    "decode.pgoutput_frames_per_s" -> "1/s", "decode.copy_parse_rows_per_s" -> "1/s",
    "sinks.render_rows_per_s" -> "1/s", "functions.fingerprint64_rows_per_s" -> "1/s",
    "functions.minhash_rows_per_s" -> "1/s")

  private def m(name: String, unit: String, module: String, moves: String, workload: String) =
    LayerMetric(name, unit, module, moves, workload)

  /** Every per-layer metric a traced run prints (`# layer` lines). */
  val named: Seq[LayerMetric] = Seq(
    m("decode.copy_stream_s", "s", "graft.decode", "snapshot_rows_per_s", "pg_snapshot"),
    m("decode.copy_bytes", "bytes", "graft.decode", "snapshot_rows_per_s", "pg_snapshot"),
    m("pipe.first_sync_s", "s", "graft.pipe", "snapshot_rows_per_s", "pg_snapshot"),
    m("pipe.first_sync_jobs", "count", "graft.pipe", "snapshot_rows_per_s", "pg_snapshot"),
    m("ddl.initialize_s", "s", "graft.ddl", "setup_s", "pg_snapshot"),
    m("ddl.statements", "count", "graft.ddl", "setup_s", "pg_snapshot"),
    m("sinks.sql_bytes_per_row", "bytes", "graft.sinks", "snapshot_rows_per_s", "pg_snapshot"),
    m("core_scaling", "ratio", "graft.pipe", "snapshot_rows_per_s", "pg_snapshot"),
    m("pipe.drain_s", "s", "graft.pipe", "cdc_drain_events_per_s", "pg_cdc"),
    m("pipe.iteration_s", "s", "graft.pipe", "cdc_lag_p50_ms", "pg_cdc"),
    m("pipe.events_per_iteration", "count", "graft.pipe", "cdc_lag_p50_ms", "pg_cdc"),
    m("pipe.jobs_per_iteration", "count", "graft.pipe", "cdc_lag_p50_ms", "pg_cdc"),
    m("pipe.driver_gap_s", "s", "graft.pipe", "cdc_lag_p50_ms", "pg_cdc"),
    m("pipe.shuffle_bytes_per_iteration", "bytes", "graft.pipe", "cdc_drain_events_per_s", "pg_cdc"),
    m("live.peek_s", "s", "graft.live", "none (must stay far below pipe.iteration_s)", "pg_cdc"),
    m("ops.dedup_kept_ratio", "ratio", "graft.ops", "cdc_drain_events_per_s", "pg_cdc"),
    m("sinks.statements", "count", "graft.sinks", "cdc_lag_p50_ms", "pg_cdc"),
    m("sinks.execute_s", "s", "graft.sinks", "cdc_lag_p50_ms", "pg_cdc"),
    m("core_scaling", "ratio", "graft.pipe", "cdc_drain_events_per_s", "pg_cdc"),
    m("streaming.probe_s", "s", "graft.streaming", "curate_trigger_p50_s", "curate_stream"),
    m("streaming.deliver_s", "s", "graft.streaming", "curate_trigger_p50_s", "curate_stream"),
    m("streaming.append_s", "s", "graft.streaming", "curate_trigger_p50_s", "curate_stream"),
    m("streaming.jobs_per_trigger", "count", "graft.streaming", "curate_trigger_p50_s", "curate_stream"),
    m("streaming.shuffle_bytes_per_trigger", "bytes", "graft.streaming", "curate_trigger_p50_s", "curate_stream"),
    m("dedup.bytes_read_per_trigger", "bytes", "graft.dedup", "curate_trigger_p50_s", "curate_stream"),
    m("dedup.bytes_written_per_trigger", "bytes", "graft.dedup", "curate_trigger_p50_s", "curate_stream"),
    m("dedup.list_calls_per_trigger", "count", "graft.dedup", "curate_trigger_tail_s", "curate_stream"),
    m("dedup.files_opened_per_trigger", "count", "graft.dedup", "curate_trigger_tail_s", "curate_stream"),
    m("dedup.catalog_files", "count", "graft.dedup", "curate_trigger_tail_s", "curate_stream"),
    m("dedup.compactions", "count", "graft.ops", "curate_trigger_tail_s", "curate_stream"),
    m("core_scaling", "ratio", "graft.streaming", "curate_trigger_p50_s", "curate_stream"),
    m("decode.pgoutput_frames_per_s", "1/s", "graft.decode", "cdc_drain_events_per_s", "all"),
    m("decode.copy_parse_rows_per_s", "1/s", "graft.decode", "snapshot_rows_per_s", "all"),
    m("sinks.render_rows_per_s", "1/s", "graft.sinks", "snapshot_rows_per_s", "all"),
    m("functions.fingerprint64_rows_per_s", "1/s", "graft.functions", "curate_docs_per_s", "all"),
    m("functions.minhash_rows_per_s", "1/s", "graft.functions", "curate_docs_per_s", "all"),
    m("spark.jobs_per_op", "count", "spark (orchestration)", "latency_p50_ms", "all"),
    m("spark.task_cpu_s_per_op", "s", "spark (executors)", "latency_p50_ms", "all"),
    m("spark.shuffle_bytes_per_op", "bytes", "spark (shuffle)", "latency_p50_ms", "all"),
    m("driver.gap_s_per_op", "s", "driver", "latency_p50_ms", "all"),
    m("trace.overhead_share", "share", "benchmark tracer", "none", "all"))
}
