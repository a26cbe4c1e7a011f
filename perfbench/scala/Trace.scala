package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's own event timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def s(): Double = ms() / 1000.0
  /** CPU seconds used by this process so far (all threads). */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9
}

/** One traced interval: workload → stage or query → micro-batch → job. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double)

/** Task metrics summed over one scope (a stage run or a registry query). */
final class TaskSums {
  var tasks = 0L
  var cpuS, runS, gcS = 0.0
  var inputBytes, outputBytes, shuffleRead, shuffleWrite, spill = 0L
  /** (launch, finish) of every task, epoch ms, for the idle-executor time. */
  val intervals = mutable.ArrayBuffer[(Double, Double)]()
  /** Task durations per Spark stage, for the skew ratio. */
  val durationsByStage = mutable.Map[Int, mutable.ArrayBuffer[Double]]()
}

/** Spans, job and task accounting and streaming progress for a traced run.
  *
  * The benchmark sets the local property `perfbench.span` to the id of
  * the span a call runs under; Spark copies local properties into every
  * job, including the jobs of streaming queries started from that thread.
  * Spans are kept in memory and written when the run ends.
  */
final class Tracer(spark: SparkSession) {
  def sparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private val ids = new AtomicLong(0)
  private val sums = new ConcurrentHashMap[Long, TaskSums]()
  private val stageScope = new ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentHashMap[Int, (Double, Long, String, Long)]()
  /** queryId → span id of the stage that started it. */
  private val queryScope = new ConcurrentHashMap[String, Long]()
  /** Progress events per stage span id. */
  val progress = new ConcurrentHashMap[Long, java.util.List[StreamingQueryListener.QueryProgressEvent]]()
  /** Driver phases (analysis, optimization, planning) of every finished
    * SQL execution: (phase, start ms, end ms). */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double)]()

  private def sumsFor(scope: Long): TaskSums = sums.computeIfAbsent(scope, _ => new TaskSums)
  def taskSums(scope: Long): TaskSums = sums.getOrDefault(scope, new TaskSums)
  /** The tasks `scope` has run so far, which it then forgets (the live
    * run's start-up, before its timed part). */
  def takeSums(scope: Long): TaskSums = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    Option(sums.remove(scope)).getOrElse(new TaskSums)
  }

  def nextId(): Long = ids.incrementAndGet()
  /** The workload's span, the root of every other. */
  val root: Long = nextId()

  def record(id: Long, parent: Long, kind: String, name: String, start: Double, end: Double): Unit =
    spans.synchronized { spans += Span(id, parent, kind, name, start, end) }

  /** Run `body` under a new span; jobs it starts are attributed to it. */
  def span[T](parent: Long, kind: String, name: String)(body: Long => T): T = {
    val id = nextId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = Clock.ms()
    try body(id)
    finally {
      record(id, parent, kind, name, t0, Clock.ms())
      sc.setLocalProperty("perfbench.span", prev)
    }
  }

  def bindQuery(queryId: java.util.UUID, scope: Long): Unit =
    queryScope.put(queryId.toString, scope)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val scope = prop("perfbench.span").map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageScope.put(s, scope))
      jobs.put(e.jobId, (e.time.toDouble, scope,
        prop("sql.streaming.queryId").getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (start, scope, qid, batch) =>
        val parent = if (batch >= 0) batchSpanId(qid, batch) else scope
        record(nextId(), parent, "job", s"job ${e.jobId}", start, e.time.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val scope = stageScope.getOrDefault(e.stageId, 0L)
      val m = e.taskMetrics
      if (m == null) return
      val s = sumsFor(scope)
      s.synchronized {
        s.tasks += 1
        s.cpuS += m.executorCpuTime / 1e9
        s.runS += m.executorRunTime / 1e3
        s.gcS += m.jvmGCTime / 1e3
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        val info = e.taskInfo
        s.intervals += ((info.launchTime.toDouble, info.finishTime.toDouble))
        s.durationsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          (info.finishTime - info.launchTime).toDouble
      }
    }
  }

  /** Micro-batch span ids, keyed by (queryId, batchId). */
  private val batchIds = new ConcurrentHashMap[(String, Long), Long]()
  private def batchSpanId(qid: String, batch: Long): Long =
    batchIds.computeIfAbsent((qid, batch), _ => nextId())

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val scope = queryScope.getOrDefault(p.id.toString, 0L)
      progress.computeIfAbsent(scope,
        _ => java.util.Collections.synchronizedList(new java.util.ArrayList())).add(e)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val total = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      record(batchSpanId(p.id.toString, p.batchId), scope, "batch",
        s"${p.name} batch ${p.batchId}", start, start + total)
    }
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (name, ph) =>
        phases.add((name, ph.startTimeMs.toDouble, ph.endTimeMs.toDouble))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(executionListener)
  }

  /** Seconds spent per driver phase by executions that began in [t0, t1]. */
  def phasesWithin(t0: Double, t1: Double): Map[String, Double] =
    phases.asScala.toSeq.filter { case (_, a, _) => a >= t0 && a <= t1 }
      .groupMapReduce(_._1)(p => (p._3 - p._2) / 1000.0)(_ + _)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(executionListener)
  }

  /** Self time per span kind, seconds: each span's duration minus the part
    * of it its children cover. */
  def selfTimes(): Map[String, Double] = {
    val all = spans.synchronized(spans.toVector)
    val children = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = children.getOrElse(s.id, Vector.empty)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
          .filter { case (a, b) => b > a }
        (s.endMs - s.startMs - Stats.unionLength(kids)) / 1000.0
      }.sum
    }
  }

  /** Self time per span kind as `trace.self.<kind>_s`, and the spans
    * written to the trace directory. */
  def report(args: Args, result: Result): Unit = {
    spans.synchronized {
      val top = spans.filter(_.parent == root)
      if (top.nonEmpty) spans += Span(root, 0L, "workload", args.workload,
        top.map(_.startMs).min, top.map(_.endMs).max)
    }
    selfTimes().foreach { case (kind, s) => result.layerMetric(s"trace.self.${kind}_s", s, "s") }
    args.traceDir.foreach(d =>
      writeSpans(java.nio.file.Paths.get(d, s"spans-${args.workload}-seed${args.seed}.jsonl")))
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = spans.synchronized(spans.sortBy(_.startMs).toVector)
    val lines = all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${Json.esc(s.name)}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, end = 0.0
    var start = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > end || start == Double.NegativeInfinity) {
        if (start != Double.NegativeInfinity) total += end - start
        start = a; end = b
      } else end = math.max(end, b)
    }
    if (start != Double.NegativeInfinity) total += end - start
    total
  }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
