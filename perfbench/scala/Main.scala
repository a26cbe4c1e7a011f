package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Command line of one benchmark JVM (see perfbench/run.py). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    cores: Int,
    work: String,
    data: String,
    manifest: String,
    traceDir: Option[String],
    inject: Option[String],
    capture: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "20").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      cores = kv.getOrElse("cores", "4").toInt,
      work = need("work"),
      data = need("data"),
      manifest = need("manifest"),
      traceDir = kv.get("trace-dir"),
      inject = kv.get("inject"),
      capture = kv.get("capture"))
  }
}

/** Metrics, output checks and notes of one run. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def layerMetric(name: String, value: Double, unit: String): Unit = layer(name) = (value, unit)

  /** One checked operation; a false `ok` counts into `failed`. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"FAIL $what: $detail" }
  }

  def toJson: String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) =>
        val num = if (v.isNaN || v.isInfinite) "0" else v.toString
        s""""${Json.esc(k)}":{"value":$num,"unit":"${Json.esc(u)}"}"""
      }.mkString("{", ",", "}")
    val ns = notes.map(n => "\"" + Json.esc(n) + "\"").mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":${obj(metrics)},"layer":${obj(layer)},"notes":$ns}"""
  }
}

/** The benchmark JVM: one workload, measured with tracing off (end-to-end
  * metrics) or on (per-layer metrics and spans).
  *
  * End-to-end metrics, the same names on both workloads. An operation is
  * one (alert, topic) delivery on `night_batch` and one query on
  * `registry`.
  *  - setup_s: session start plus the median of repeated input set-ups.
  *  - work_s: wall time of the timed work (the chain on night_batch, the
  *    sum of query times on registry).
  *  - throughput_per_s: alerts (night_batch) or queries (registry) per
  *    second of work_s.
  *  - latency_p50_s / latency_p90_s: operation latency percentiles.
  *  - cpu_s_per_unit: process CPU per 1000 alerts (night_batch) or per
  *    pass (registry).
  *  - peak_rss_mb: the process high-water resident set.
  */
object Main {
  private val started = Clock.s()

  /** Progress line on stderr, with seconds since the JVM started. */
  def phase(name: String): Unit =
    System.err.println(f"perfbench: $name at ${Clock.s() - started}%.1f s")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val t0 = Clock.s()
    val spark = session(args.cores)
    val sessionS = Clock.s() - t0
    val result = new Result
    try {
      args.capture match {
        case Some(out) => Registry.capture(spark, args, out)
        case None =>
          args.workload match {
            case "night_batch" => Spine.nightBatch(spark, args, result, sessionS)
            case "registry" => Registry.run(spark, args, result, sessionS)
            case w => sys.error(s"unknown workload $w")
          }
          result.metric("peak_rss_mb", peakRssMb(), "MB")
          if (args.trace) {
            // run.py turns these into trace.overhead.* against an untraced run
            result.metrics.foreach { case (k, (v, u)) => result.layerMetric(s"trace.e2e.$k", v, u) }
            // every traced run reports every layer; 0 marks a layer the
            // workload does not exercise
            Layers.all.foreach { case (n, u) =>
              if (!result.layer.contains(n)) result.layerMetric(n, 0.0, u)
            }
          }
      }
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
      phase("stopped")
    }
    if (args.capture.isEmpty) println(result.toJson)
  }

  def session(cores: Int): SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder().appName("perfbench").master(s"local[$cores]"),
      shufflePartitions = cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** VmHWM of this process, MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** The per-layer metrics of a traced run, with units (BENCHMARK.json's
  * `per_layer` list, less the `trace.overhead.*` that run.py adds). */
object Layers {
  private def group(prefix: String, unit: String, names: String*) =
    names.map(n => s"$prefix.$n" -> unit)

  val stageTimes = Seq("planning_ms", "get_batch_ms", "latest_offset_ms", "add_batch_ms",
    "wal_commit_ms", "commit_offsets_ms")

  val all: Seq[(String, String)] =
    group("avro.decode", "s", "s", "cpu_s") ++ group("avro.encode", "s", "s", "cpu_s") ++
    group("enrich.apply", "s", "s", "cpu_s") ++ Seq("alerts.quality_cuts.pass_ratio" -> "ratio") ++
    Seq("stream2raw" -> Seq("output_bytes"), "raw2science" -> Seq("input_bytes", "output_bytes"),
        "distribute" -> Seq("input_bytes")).flatMap { case (st, bytes) =>
      group(s"jobs.$st", "s", "s", "cpu_s", "gc_s") ++ Seq(s"jobs.$st.alerts_per_s" -> "1/s") ++
        group(s"jobs.$st", "bytes", bytes: _*) ++
        Seq(s"streaming.$st.batches" -> "count") ++ group(s"streaming.$st", "ms", stageTimes: _*)
    } ++
    group("streaming.distribute", "count", "queries", "scan_rows", "emit_rows") ++
    Seq("streaming.distribute.emit_per_scan" -> "ratio",
      "streaming.live.backlog_max_files" -> "count", "streaming.live.generator_late_max_s" -> "s",
      "streaming.live.latency_p50_s" -> "s", "streaming.live.latency_p90_s" -> "s",
      "streaming.live.cpu_s_per_kalert" -> "s",
      "jobs.spine.alerts_per_s" -> "1/s", "jobs.spine.speedup_4v1" -> "ratio") ++
    group("queries", "s", "analysis_s", "optimization_s", "planning_s", "codegen_s",
      "idle_executor_s", "exec_cpu_s", "gc_s") ++
    group("queries", "count", "jobs", "tasks") ++
    group("queries", "bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes") ++
    Seq("queries.task_skew" -> "ratio") ++
    Registry.packs.map { case (p, _) => s"queries.$p.s" -> "s" } ++
    group("trace.self", "s", "workload_s", "stage_s", "query_s", "batch_s", "job_s", "probe_s")
}
