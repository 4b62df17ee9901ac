package graftbench

import org.apache.spark.sql.SparkSession

/** Command-line options (run.py passes all of them). */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
                      cpus: Int, heap: String, expected: String, buildId: String, record: Boolean)

/** What a workload hands back. `rounds` are the measured repetitions of
  * its fixed unit of work; `ops` the latencies of its client operation.
  * `detail` carries the workload's own named metrics (name -> value,
  * unit), `layers` the per-layer metrics of a traced run. */
final case class Outcome(attempted: Long, failed: Long, mismatches: Seq[String],
                         setups: Seq[Double], rounds: Seq[Double], roundCpu: Seq[Double],
                         roundTaskCpu: Seq[Double], ops: Seq[Double], detail: Seq[(String, Double, String)],
                         layers: Map[String, Double])

object Metrics {
  private val packs = Seq("log", "relational", "analytics", "series", "projection", "text", "dedup",
    "sim", "corpus", "multimodal", "store")

  /** Per-layer metrics every workload reports (traced runs); a layer a
    * workload never calls reports 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "append.call_ms" -> "ms", "append.jobs_per_call" -> "count", "append.files_per_call" -> "count",
    "append.stale_reject_frac" -> "frac", "append.batch_call_ms" -> "ms", "append.batch_jobs_per_call" -> "count",
    "log.read_stream_ms" -> "ms", "log.read_all_ms" -> "ms", "log.jobs_per_read" -> "count",
    "log.input_kb_per_read" -> "KB", "log.files_at_end" -> "count",
    "streaming.deliver_lag_ms" -> "ms", "streaming.sub_trigger_ms" -> "ms",
    "streaming.sub_empty_trigger_frac" -> "frac", "streaming.logsink_batch_ms" -> "ms",
    "streaming.pump_trigger_ms" -> "ms", "streaming.pump_triggers" -> "count",
    "streaming.pump_state_rows" -> "count", "streaming.pump_state_mb" -> "MB",
    "proj.pump_json_s" -> "s", "proj.pump_js_s" -> "s") ++
    packs.map(p => s"queries.${p}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.input_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "memo.build_s" -> "s",
    "trace.round_s" -> "s", "trace.layer_share" -> "frac")
}

object Main {
  private val t0 = System.nanoTime()

  /** A progress note on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit = System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("work"),
      need("cpus").toInt, need("heap"), need("expected"), m.getOrElse("build-id", "unknown"),
      m.get("record").contains("1"))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"graft-perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val steal0 = graft.util.ProcStat.stealJiffies()
    val spark = session(o)
    val rec = new Recorder(spark, o.trace)
    note("session ready")
    val out = o.workload match {
      case "event_store"     => EventStore.run(spark, o, rec)
      case "analytics_sweep" => AnalyticsSweep.run(spark, o, rec)
      case w                 => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    if (o.trace) rec.report(s"${o.work}/../trace-${o.workload}-${o.seed}.jsonl")
    note("workload done")
    val steal = graft.util.ProcStat.stealPct(steal0, graft.util.ProcStat.stealJiffies())

    // the end-to-end metrics every workload reports (untraced runs)
    val e2e = Seq(
      ("setup_s", Stats.median(out.setups), "s"),
      ("round_s", Stats.median(out.rounds), "s"),
      ("round_task_cpu_s", Stats.median(out.roundTaskCpu), "s"),
      ("op_p50_ms", Stats.median(out.ops), "ms"))
    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString, "master" -> s"local[${o.cpus}]",
      "driver_heap" -> o.heap, "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version, "build" -> o.buildId, "steal_pct" -> f"$steal%.2f",
      "rounds" -> out.rounds.size.toString, "ops" -> out.ops.size.toString)
    // human-readable context and the workload's own named metrics, then
    // the one-line result (always the last line of stdout)
    println(s"""{"host":${host.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")},""" +
      s""""mismatches":${out.mismatches.take(20).map(str).mkString("[", ",", "]")},""" +
      s""""detail":${metricsJson(out.detail ++ Seq(("round_cpu_s", Stats.median(out.roundCpu), "s"),
        ("peak_rss_mb", Jvm.peakRssMb(), "MB")))}}""")
    val metrics =
      if (o.trace) Metrics.perLayer.map { case (k, u) => (k, out.layers.getOrElse(k, 0.0), u) }
      else e2e
    val correct = out.mismatches.isEmpty && out.failed == 0
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},"metrics":${metricsJson(metrics)}}""")
    spark.stop()
  }
}
