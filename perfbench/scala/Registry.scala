package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.QueryDef

/** The `registry` workload: a fixed slice of `SparkEntry.queries` over the
  * vendored table set, run the way `graft.Bench` runs every query — a
  * `noop` write, then `clearCache` — in an order permuted by the seed.
  * Each run is a fresh JVM. Set-up ends with a priming pass over the
  * slice, which pays the one-time `DerivedTable` builds and JIT warm-up
  * (billed to `setup_s`); the timed pass that follows measures each
  * query warm.
  *
  * Every result is checked against `registry_manifest.json`: its row
  * count and an order-independent hash, observed on the same execution
  * that is timed (`Dataset.observe`), so the check costs no second pass.
  */
object Registry {

  /** Every fifteenth registered query in name order, plus the heavy queries
    * the roadmap names. */
  val Stride = 15
  val Heavy = Seq("q100_source_centroids", "q111_decontaminate", "q166_embedding_cov",
    "q185_market_basket", "q292_gini_stump", "q344_triple_itemsets")
  val Scale = "sf0.01"

  /** Query packs by name, in `SparkEntry.packs` order. */
  val packs: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> graft.queries.Relational.defs,
    "Extended" -> graft.queries.Extended.defs,
    "TextAnalysis" -> graft.queries.TextAnalysis.defs,
    "Dedup" -> graft.queries.Dedup.defs,
    "Similarity" -> graft.queries.Similarity.defs,
    "Nested" -> graft.queries.Nested.defs,
    "Spatial" -> graft.queries.Spatial.defs,
    "Temporal" -> graft.queries.Temporal.defs,
    "Layout" -> graft.queries.Layout.defs,
    "Corpus" -> graft.queries.Corpus.defs,
    "Reports" -> graft.queries.Reports.defs,
    "Curation" -> graft.queries.Curation.defs,
    "Serving" -> graft.queries.Serving.defs,
    "Cleaning" -> graft.queries.Cleaning.defs,
    "Validation" -> graft.queries.Validation.defs,
    "Media" -> graft.queries.Media.defs,
    "Graph" -> graft.queries.Graph.defs)

  lazy val packOf: Map[String, String] =
    packs.flatMap { case (p, defs) => defs.map(_.name -> p) }.toMap

  def slice: Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    (names.zipWithIndex.collect { case (n, i) if i % Stride == 0 => n } ++ Heavy).distinct.sorted
  }

  final case class Outcome(name: String, wallS: Double, rows: Long, hash: Option[String],
      error: Option[String], codegenS: Double)

  /** Canonical per-row hash: columns in name order, floating point rounded
    * to 6 decimals, maps as JSON. None when the schema cannot be hashed. */
  def rowHash(df: DataFrame): Option[Column] = {
    val fields = df.schema.fields.sortBy(_.name)
    val names = fields.map(_.name)
    if (fields.isEmpty || names.distinct.size != names.size) None
    else Some(xxhash64(fields.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _: MapType => to_json(c)
        case _ => c
      }
    }.toIndexedSeq: _*))
  }

  private val observations = new java.util.concurrent.atomic.AtomicInteger

  /** Run one query as Bench does, observing its row count and hash. */
  def runQuery(spark: SparkSession, name: String, dataDir: String,
      sink: DataFrame => Unit): Outcome = {
    val fn = SparkEntry.queries(name)
    val obs = Observation(s"check_${observations.incrementAndGet()}")
    val cg0 = CodeGenerator.compileTime
    val t0 = Clock.ms()
    try {
      val df = fn(spark, dataDir)
      val h = rowHash(df)
      val aggs = Seq(count(lit(1)).as("n")) ++ h.toSeq.flatMap(x => Seq(
        sum(x.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"),
        sum(shiftrightunsigned(x, 32)).as("hi")))
      sink(df.observe(obs, aggs.head, aggs.tail: _*))
      val t1 = Clock.ms()
      val m = obs.get
      val hash = h.map(_ => s"${m("lo")}:${m("hi")}")
      Outcome(name, (t1 - t0) / 1000.0, m("n").asInstanceOf[Long], hash, None,
        (CodeGenerator.compileTime - cg0) / 1e9)
    } catch {
      case scala.util.control.NonFatal(e) =>
        val t1 = Clock.ms()
        Outcome(name, (t1 - t0) / 1000.0, -1L, None, Some(String.valueOf(e.getMessage)),
          (CodeGenerator.compileTime - cg0) / 1e9)
    } finally spark.catalog.clearCache()
  }

  private val noop: DataFrame => Unit =
    _.write.format("noop").mode("overwrite").save()

  /** Bench's warm-up: one range job and a footer read of every table. */
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id) s").write.format("noop").mode("overwrite").save()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$dataDir/$t.parquet").limit(1).write
        .format("noop").mode("overwrite").save()
    }
  }

  /** Manifest: name → (rows, hash or null). */
  def readManifest(path: String): Map[String, (Long, Option[String])] = {
    val entry = """"([^"]+)":\s*\{\s*"rows":\s*(-?\d+),\s*"hash":\s*(null|"[^"]*")""".r
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    entry.findAllMatchIn(text).map { m =>
      m.group(1) -> (m.group(2).toLong,
        if (m.group(3) == "null") None else Some(m.group(3).stripPrefix("\"").stripSuffix("\"")))
    }.toMap
  }

  def run(spark: SparkSession, args: Args, result: Result, sessionS: Double): Unit = {
    val dataDir = s"${args.data}/$Scale"
    val manifest = readManifest(args.manifest)
    val setups = (1 to Spine.SetupRepeats).map(_ => Spine.timed(warmUp(spark, dataDir))._2)
    // The priming pass runs the slice once in name order: it builds the
    // `DerivedTable`s, billed to set-up, and warms the JIT, so that the
    // timed pass measures every query warm whatever its place in the order.
    // Its results are not checked; a query that fails here fails its check
    // in the timed pass.
    val primingS = Spine.timed(slice.foreach(n => runQuery(spark, n, dataDir, noop)))._2
    result.metric("setup_s", sessionS + Stats.median(setups) + primingS, "s")
    Main.phase(f"set-up done (${setups.map(x => f"$x%.2f").mkString(" ")}, priming $primingS%.2f)")

    val order = new scala.util.Random(args.seed).shuffle(slice)
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val cpu0 = Clock.processCpuS()
    val passStart = Clock.ms()
    val outcomes = order.map { name =>
      tracer match {
        case Some(t) => t.span(t.root, "query", name)(_ => runQuery(spark, name, dataDir, noop))
        case None => runQuery(spark, name, dataDir, noop)
      }
    }
    val passEnd = Clock.ms()
    val cpuS = Clock.processCpuS() - cpu0
    Main.phase("pass done")
    outcomes.foreach(o => System.err.println(f"perfbench: ${o.name} took ${o.wallS}%.3f s"))

    outcomes.foreach { o =>
      val altered = args.inject.contains("alter_result") && o.name == order.head
      val rows = if (altered) o.rows + 1 else o.rows
      manifest.get(o.name) match {
        case _ if o.error.isDefined => result.check(o.name, ok = false, s"query failed: ${o.error.get}")
        case None => result.check(o.name, ok = false, "not in the manifest")
        case Some((mRows, mHash)) =>
          result.check(o.name, rows == mRows && (mHash.isEmpty || mHash == o.hash),
            s"rows $rows hash ${o.hash.getOrElse("-")}, manifest rows $mRows hash ${mHash.getOrElse("-")}")
      }
    }

    val walls = outcomes.map(_.wallS)
    val e2e = Seq(
      ("work_s", walls.sum, "s"),
      ("throughput_per_s", walls.size / walls.sum, "1/s"),
      ("latency_p50_s", Stats.quantile(walls, 0.5), "s"),
      ("latency_p90_s", Stats.quantile(walls, 0.9), "s"),
      ("cpu_s_per_unit", cpuS, "s"))
    e2e.foreach { case (k, v, u) => result.metric(k, v, u) }

    tracer.foreach { t =>
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      t.detach()
      queryLayers(t, outcomes, passStart, passEnd, args, result)
      t.report(args, result)
    }
  }

  /** Per-layer metrics of the registry pass and one JSON record per query. */
  def queryLayers(t: Tracer, outcomes: Seq[Outcome], passStart: Double, passEnd: Double,
      args: Args, result: Result): Unit = {
    val spansByName = t.spans.filter(_.kind == "query").map(s => s.name -> s).toMap
    val records = outcomes.map { o =>
      val span = spansByName(o.name)
      val sums = t.taskSums(span.id)
      val ph = t.phasesWithin(span.startMs, span.endMs)
      val busy = Stats.unionLength(sums.intervals.toSeq.map { case (a, b) =>
        (math.max(a, span.startMs), math.min(b, span.endMs)) }.filter { case (a, b) => b > a })
      val skews = sums.durationsByStage.values.filter(_.size >= 2)
        .map(d => d.max / math.max(Stats.median(d.toSeq), 1.0))
      (o, sums, ph, (span.endMs - span.startMs - busy) / 1000.0,
        if (skews.isEmpty) 1.0 else skews.max)
    }
    def tot(f: ((Outcome, TaskSums, Map[String, Double], Double, Double)) => Double) =
      records.map(f).sum
    result.layerMetric("queries.analysis_s", tot(_._3.getOrElse("analysis", 0.0)), "s")
    result.layerMetric("queries.optimization_s", tot(_._3.getOrElse("optimization", 0.0)), "s")
    result.layerMetric("queries.planning_s", tot(_._3.getOrElse("planning", 0.0)), "s")
    result.layerMetric("queries.codegen_s", tot(_._1.codegenS), "s")
    result.layerMetric("queries.idle_executor_s", tot(_._4), "s")
    result.layerMetric("queries.exec_cpu_s", tot(_._2.cpuS), "s")
    result.layerMetric("queries.gc_s", tot(_._2.gcS), "s")
    result.layerMetric("queries.jobs", t.spans.count(s => s.kind == "job" &&
      s.startMs >= passStart && s.startMs <= passEnd).toDouble, "count")
    result.layerMetric("queries.tasks", tot(_._2.tasks.toDouble), "count")
    result.layerMetric("queries.shuffle_write_bytes", tot(_._2.shuffleWrite.toDouble), "bytes")
    result.layerMetric("queries.shuffle_read_bytes", tot(_._2.shuffleRead.toDouble), "bytes")
    result.layerMetric("queries.spill_bytes", tot(_._2.spill.toDouble), "bytes")
    result.layerMetric("queries.input_bytes", tot(_._2.inputBytes.toDouble), "bytes")
    result.layerMetric("queries.task_skew", Stats.median(records.map(_._5)), "ratio")
    packs.foreach { case (p, _) =>
      result.layerMetric(s"queries.$p.s",
        records.filter(r => packOf.get(r._1.name).contains(p)).map(_._1.wallS).sum, "s")
    }
    args.traceDir.foreach { dir =>
      val lines = records.map { case (o, s, ph, idle, skew) =>
        f"""{"query":"${o.name}","pack":"${packOf.getOrElse(o.name, "")}","wall_s":${o.wallS}%.4f,""" +
          f""""analysis_s":${ph.getOrElse("analysis", 0.0)}%.4f,"optimization_s":${ph.getOrElse("optimization", 0.0)}%.4f,""" +
          f""""planning_s":${ph.getOrElse("planning", 0.0)}%.4f,"codegen_s":${o.codegenS}%.4f,""" +
          f""""idle_executor_s":$idle%.4f,"tasks":${s.tasks},"exec_cpu_s":${s.cpuS}%.4f,"exec_run_s":${s.runS}%.4f,""" +
          f""""gc_s":${s.gcS}%.4f,"input_bytes":${s.inputBytes},"shuffle_read_bytes":${s.shuffleRead},""" +
          f""""shuffle_write_bytes":${s.shuffleWrite},"spill_bytes":${s.spill},"task_skew":$skew%.3f,"rows":${o.rows}}"""
      }
      val p = Paths.get(dir, s"registry-queries-seed${args.seed}.jsonl")
      Files.createDirectories(p.getParent)
      Files.write(p, lines.asJava)
    }
  }

  /** Capture mode: run the slice in name order with the hashing the
    * benchmark checks, and write `<out>/manifest-run.json` plus each
    * query's oracle SQL for the DuckDB comparison. */
  def capture(spark: SparkSession, args: Args, out: String): Unit = {
    val dataDir = s"${args.data}/$Scale"
    warmUp(spark, dataDir)
    val outcomes = slice.map(n => runQuery(spark, n, dataDir, noop))
    val body = outcomes.map { o =>
      val h = o.hash.map("\"" + _ + "\"").getOrElse("null")
      s"""  "${o.name}": {"rows": ${o.rows}, "hash": $h}"""
    }.mkString("{\n", ",\n", "\n}\n")
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, "manifest-run.json"), body.getBytes("UTF-8"))
  }
}
