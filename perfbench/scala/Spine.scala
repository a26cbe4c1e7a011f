package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.alerts.{AlertFunctions, AlertSchema}
import graft.avro.AvroFunctions
import graft.jobs.Nightly
import graft.streaming.{FilterRegistry, Sinks}

/** The spine workload `night_batch`: stream2raw → raw2science → distribute over
  * Avro wire files, with 20 filters whose selectivities run from ≈0 to a
  * catch-all, each topic's `Sinks.kafkaPayload` frame written to a
  * parquet sink standing in for Kafka. See [[Spine.nightBatch]].
  */
object Spine {

  /** Alerts in the night_batch chain. */
  val BatchAlerts = 20000
  /** ZTF production rate: 10 000 alerts per 300 s trigger (BASELINE.md). */
  val LiveRate: Double = 10000.0 / 300.0
  /** Stamp size of live alerts, so packets are dominated by cutouts. */
  val LiveStampBytes = 16 * 1024
  /** Alerts that bring the live services up before anything is timed. */
  val PrimeAlerts = 10
  val SetupRepeats = 3
  val Stages = Seq("stream2raw", "raw2science", "distribute")

  /** The 20 filters over the distribution frame: magnitude cuts from ≈0
    * to 99 % selectivity (magpsf is uniform on [15, 21] in the fixture),
    * two classification filters, and a catch-all. */
  val Filters: Seq[(String, DataFrame => Column)] = {
    val shares = Seq(0.002, 0.01, 0.03, 0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.4,
      0.5, 0.6, 0.7, 0.8, 0.9, 0.95, 0.99)
    shares.map { s =>
      val mag = 15.0 + 6.0 * s
      f"mag_lt_$mag%.3f".replace('.', '_') -> ((df: DataFrame) => df("candidate.magpsf") < mag)
    } ++ Seq(
      "transient" -> ((df: DataFrame) => df("classification") === "transient_candidate"),
      "variable" -> ((df: DataFrame) => df("classification") === "variable_candidate"),
      "all" -> ((_: DataFrame) => lit(true)))
  }
  val CatchAll = "all"
  def filterNames: Seq[String] = Filters.map(_._1)

  // ---------------------------------------------------------------- inputs

  /** `n` unique alerts: `AlertSchema.fixture` rows replicated engine-side
    * with `candid` (from 10^9^ + `firstCandid`) and `objectId` made unique
    * per replica. With `stampBytes > 0` every cutout carries that many
    * seeded random bytes. */
  def alerts(spark: SparkSession, n: Int, firstCandid: Long, seed: Long, stampBytes: Int): DataFrame = {
    val base = math.min(n, 2000)
    require(n % base == 0, s"$n alerts is not a multiple of $base")
    val fx = AlertSchema.fixture(spark, base, seed = seed)
    var df = fx.crossJoin(spark.range(n / base).withColumnRenamed("id", "rep"))
      .withColumn("candid", col("candid") + col("rep") * base + firstCandid)
      .withColumn("objectId", concat(col("objectId"), lit("_"), col("rep").cast("string")))
    if (stampBytes > 0) {
      val stamp = udf { (candid: Long, kind: Int) =>
        val r = new java.util.Random(seed * 1000003L + candid * 3L + kind)
        val b = new Array[Byte](stampBytes)
        r.nextBytes(b)
        b
      }
      Seq("cutoutScience", "cutoutTemplate", "cutoutDifference").zipWithIndex.foreach {
        // `when` keeps the cutout nullable, so the wire schema is unchanged
        case (c, k) => df = df.withColumn(c, when(col(c).isNotNull,
          struct(col(s"$c.fileName").as("fileName"), stamp(col("candid"), lit(k)).as("stampData"))))
      }
    }
    df.drop("rep")
  }

  /** The wire frame: one Avro-encoded alert per row in `value`. */
  def wire(df: DataFrame): DataFrame = df.select(wireValue(df))
  def wireValue(df: DataFrame): Column =
    AvroFunctions.toAvro(struct(df.columns.map(col).toIndexedSeq: _*)).as("value")

  def timed[T](body: => T): (T, Double) = {
    val t0 = Clock.s(); val r = body; (r, Clock.s() - t0)
  }

  // ---------------------------------------------------------------- stages

  /** Start a query with `scope` as the span its jobs are attributed to. */
  def inScope[T](spark: SparkSession, scope: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", if (scope > 0) scope.toString else null)
    try body finally sc.setLocalProperty("perfbench.span", prev)
  }

  final case class Lakes(dir: String) {
    val raw = s"$dir/raw"
    val science = s"$dir/science"
    def topic(name: String) = s"$dir/topics/$name"
    def ck(stage: String) = s"$dir/ck/$stage"
  }

  def startStream2raw(spark: SparkSession, wireDir: String, schemaJson: String,
      l: Lakes, trigger: Trigger): StreamingQuery =
    Nightly.stream2raw(spark.readStream.schema("value binary").parquet(wireDir),
      schemaJson, l.raw, l.ck("stream2raw"), trigger)

  def startRaw2science(spark: SparkSession, l: Lakes, trigger: Trigger): StreamingQuery =
    Nightly.raw2science(spark, l.raw, l.science, l.ck("raw2science"), trigger)

  def startDistribute(spark: SparkSession, l: Lakes, trigger: Trigger): Seq[StreamingQuery] =
    Nightly.distribute(spark, l.science, filterNames, l.ck("distribute"), trigger) {
      (filtered, name, ckpt) =>
        Sinks.parquetSink(Sinks.kafkaPayload(filtered), l.topic(name), ckpt, trigger,
          queryName = Some(s"topic_$name"))
    }

  // ---------------------------------------------------------------- sink commit log

  /** A streaming metadata log (a file sink's `_spark_metadata` or a file
    * source's `sources/0`): (batchId, time the entry was written in ms,
    * names of the files the batch added). */
  def logEntries(log: Path): Seq[(Long, Double, Set[String])] = {
    if (!Files.isDirectory(log)) return Nil
    val pathRe = """"path":"([^"]+)"""".r
    val entries = Files.list(log).iterator().asScala.toSeq.flatMap { p =>
      val n = p.getFileName.toString
      scala.util.Try(n.stripSuffix(".compact").toLong).toOption.map { b =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        val files = pathRe.findAllMatchIn(text).map(m => m.group(1).split('/').last).toSet
        val mtime = Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
        (b, mtime, files)
      }
    }.sortBy(_._1)
    // a compacted entry repeats the files of every earlier batch
    var seen = Set.empty[String]
    entries.map { case (b, t, files) =>
      val own = files -- seen
      seen ++= files
      (b, t, own)
    }
  }

  /** Commit log of a topic's parquet sink. */
  def sinkCommits(topicDir: String): Seq[(Long, Double, Set[String])] =
    logEntries(Paths.get(topicDir, "_spark_metadata"))

  // ---------------------------------------------------------------- checks

  /** Order-independent md5 checksum (the form of q142_table_checksum) over
    * every column, in name order. */
  def checksum(df: DataFrame): (Long, Long, Long) = {
    val canon = to_json(struct(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*))
    val r = df.select(conv(substring(md5(canon), 1, 15), 16, 10).cast("long").as("h"))
      .agg(count(lit(1)), sum(expr("h % 1073741824")), sum(expr("h div 1073741824")))
      .head()
    (r.getLong(0), Option(r.get(1)).map(_.toString.toLong).getOrElse(0L),
      Option(r.get(2)).map(_.toString.toLong).getOrElse(0L))
  }

  /** A topic's committed rows; `drop` removes the alert with the lowest
    * candid, standing in for a lost delivery in the benchmark's own tests. */
  def topicFrame(spark: SparkSession, dir: String, drop: Boolean): DataFrame = {
    val df = spark.read.parquet(dir)
    if (!drop) df
    else {
      val schemaJson = new String(df.select("key").head.getAs[Array[Byte]](0), "UTF-8")
      val withId = df.withColumn("_c", AvroFunctions.fromAvro(col("value"), schemaJson).getField("candid"))
      val lowest = withId.agg(min("_c")).head.getLong(0)
      withId.filter(col("_c") =!= lowest).drop("_c")
    }
  }

  /** Check the lakes: raw rows = alerts released, science rows = a static
    * `Nightly.enrich` count over the raw lake, each topic's rows = the
    * static filter count, and the catch-all topic's payloads match a static
    * `Sinks.kafkaPayload` of the science lake by checksum. */
  def checkLakes(spark: SparkSession, l: Lakes, released: Long, label: String,
      drop: Boolean, result: Result): Unit = {
    val raw = spark.read.parquet(l.raw)
    val rawRows = raw.count()
    result.check(s"$label raw rows", rawRows == released, s"$rawRows raw rows for $released alerts")
    val expectedScience = Nightly.enrich(raw).count()
    val science = spark.read.parquet(l.science)
    val scienceRows = science.count()
    result.check(s"$label science rows", scienceRows == expectedScience,
      s"$scienceRows science rows, static enrich gives $expectedScience")
    val frame = Nightly.distributionFrame(science)
    val expected = frame.select(Filters.map { case (n, f) =>
      sum(when(f(frame), 1L).otherwise(0L)).as(n) }: _*).head()
    val topics = Filters.map { case (n, _) =>
      topicFrame(spark, l.topic(n), drop && n == CatchAll).select(lit(n).as("topic"))
    }.reduce(_ union _)
    val got = topics.groupBy("topic").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Filters.foreach { case (n, _) =>
      val want = Option(expected.getAs[Any](n)).map(_.toString.toLong).getOrElse(0L)
      val have = got.getOrElse(n, 0L)
      result.check(s"$label topic $n rows", have == want, s"$have rows, static filter gives $want")
    }
    // The delivered payloads must decode to what a static encode of the
    // science lake decodes to. Both sides go through the same decoder:
    // fromAvro misaligns map keys and values, so a decoded payload does not
    // equal the science rows themselves, and the streaming writer's schema
    // differs in nullability, so the bytes differ too.
    def decoded(payload: DataFrame) = {
      val schemaJson = new String(payload.select("key").head.getAs[Array[Byte]](0), "UTF-8")
      payload.select(AvroFunctions.fromAvro(col("value"), schemaJson).as("d")).select("d.*")
    }
    val delivered = decoded(topicFrame(spark, l.topic(CatchAll), drop))
    val (a, b) = (checksum(delivered), checksum(decoded(Sinks.kafkaPayload(frame))))
    result.check(s"$label catch-all checksum", a == b, s"payload checksum $a, science $b")
  }

  // ---------------------------------------------------------------- static layer probes

  /** Median wall and task CPU of `body` under a traced span, `reps` times. */
  def probe(t: Tracer, name: String, reps: Int)(body: => Unit): (Double, Double) = {
    val runs = (1 to reps).map { _ =>
      var id = 0L
      val (_, s) = timed(t.span(t.root, "probe", name) { i => id = i; body })
      org.apache.spark.perfbench.ListenerBus.drain(t.sparkContext)
      (s, t.taskSums(id).cpuS)
    }
    (Stats.median(runs.map(_._1)), Stats.median(runs.map(_._2)))
  }

  /** avro.*, enrich.* and the quality-cut pass ratio, timed on the run's
    * own inputs with noop writes. */
  def staticLayers(spark: SparkSession, t: Tracer, wireDir: String, schemaJson: String,
      l: Lakes, result: Result): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (ds, dc) = probe(t, "avro.decode", 3)(noop(Nightly.decodeToRaw(spark.read.parquet(wireDir), schemaJson)))
    result.layerMetric("avro.decode.s", ds, "s")
    result.layerMetric("avro.decode.cpu_s", dc, "s")
    val (es, ec) = probe(t, "enrich.apply", 3)(noop(Nightly.enrich(spark.read.parquet(l.raw))))
    result.layerMetric("enrich.apply.s", es, "s")
    result.layerMetric("enrich.apply.cpu_s", ec, "s")
    val raw = spark.read.parquet(l.raw)
    result.layerMetric("alerts.quality_cuts.pass_ratio",
      AlertFunctions.qualityCuts(raw).count().toDouble / math.max(raw.count(), 1L), "ratio")
    val (ns, nc) = probe(t, "avro.encode", 3)(
      noop(Sinks.kafkaPayload(Nightly.distributionFrame(spark.read.parquet(l.science)))))
    result.layerMetric("avro.encode.s", ns, "s")
    result.layerMetric("avro.encode.cpu_s", nc, "s")
  }

  /** One stage's AvailableNow run: its span and wall time. */
  final case class StageRun(stage: String, span: Long, wallS: Double)

  def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** streaming.<stage>.* of the live run: batches that read rows, and the
    * progress durations summed over every batch. */
  def streamingLayers(t: Tracer, spans: Map[String, Long], from: Double, result: Result): Unit =
    spans.foreach { case (stage, span) =>
      val events = progressOf(t, span).filter(startMs(_) >= from)
      val s = s"streaming.$stage"
      result.layerMetric(s"$s.batches", events.count(_.numInputRows > 0).toDouble, "count")
      Layers.stageTimes.zip(Seq("queryPlanning", "getBatch", "latestOffset", "addBatch",
          "walCommit", "commitOffsets")).foreach { case (k, d) =>
        result.layerMetric(s"$s.$k",
          events.map(e => Option(e.durationMs.get(d)).map(_.doubleValue).getOrElse(0.0)).sum, "ms")
      }
    }

  // ---------------------------------------------------------------- workload

  /** One AvailableNow pass of the three stages over everything in
    * `wireDir`; with a tracer, each stage gets a span its jobs and
    * progress are attributed to. Returns the stages' runs. */
  def runChain(spark: SparkSession, wireDir: String, schemaJson: String, l: Lakes,
      tracer: Option[Tracer]): Seq[StageRun] = {
    val trig = Trigger.AvailableNow()
    def stage(name: String)(start: => Seq[StreamingQuery]): StageRun = {
      val id = tracer.map(_.nextId()).getOrElse(0L)
      val t0 = Clock.ms()
      val qs = inScope(spark, id)(start)
      tracer.foreach(t => qs.foreach(q => t.bindQuery(q.id, id)))
      qs.foreach(_.awaitTermination())
      val t1 = Clock.ms()
      tracer.foreach(t => t.record(id, t.root, "stage", s"$name (chain)", t0, t1))
      StageRun(name, id, (t1 - t0) / 1000.0)
    }
    Seq(stage("stream2raw")(Seq(startStream2raw(spark, wireDir, schemaJson, l, trig))),
      stage("raw2science")(Seq(startRaw2science(spark, l, trig))),
      stage("distribute")(startDistribute(spark, l, trig)))
  }

  /** The `night_batch` workload: a fresh broker in a fresh JVM passes a
    * night of `BatchAlerts` alerts through the three stages with
    * AvailableNow triggers, one large micro-batch per stage. A traced run
    * adds the layer metrics of that chain, a live run (see [[live]]) and
    * the same chain at `local[1]`. */
  def nightBatch(spark: SparkSession, args: Args, result: Result, sessionS: Double): Unit = {
    Filters.foreach { case (n, f) => FilterRegistry.register(n, f) }
    val work = args.work
    val n = BatchAlerts
    val wireDir = s"$work/wire"
    var schemaJson = ""
    val setups = (0 until SetupRepeats).map { _ =>
      timed {
        val df = alerts(spark, n, 0L, args.seed, 0)
        schemaJson = AvroFunctions.avroSchemaJson(df.schema)
        wire(df).repartition(8).write.mode("overwrite").parquet(wireDir)
      }._2
    }
    result.metric("setup_s", sessionS + Stats.median(setups), "s")
    Main.phase(s"set-up done (${setups.map(x => f"$x%.2f").mkString(" ")})")

    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val l = Lakes(s"$work/chain")
    val cpu0 = Clock.processCpuS()
    val start = Clock.ms()
    val runs = runChain(spark, wireDir, schemaJson, l, tracer)
    val end = Clock.ms()
    val cpuS = Clock.processCpuS() - cpu0
    tracer.foreach { t =>
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      t.detach()
    }
    Main.phase("chain done")

    checkLakes(spark, l, n, "night_batch", args.inject.contains("drop_alert"), result)
    Main.phase("checks done")
    // one latency per (alert, topic) delivery: the topic sink's commit of
    // its single batch minus the chain's start
    val counts = filterNames.map(f => f -> spark.read.parquet(l.topic(f)).count()).toMap
    val latencies = filterNames.flatMap { f =>
      val commit = sinkCommits(l.topic(f)).map(_._2).maxOption.getOrElse(end)
      Iterator.fill(counts(f).toInt)((commit - start) / 1000.0)
    }
    val wallS = (end - start) / 1000.0
    val e2e = Seq(
      ("work_s", wallS, "s"),
      ("throughput_per_s", n / wallS, "1/s"),
      ("latency_p50_s", Stats.quantile(latencies, 0.5), "s"),
      ("latency_p90_s", Stats.quantile(latencies, 0.9), "s"),
      ("cpu_s_per_unit", cpuS / (n / 1000.0), "s"))
    e2e.foreach { case (k, v, u) => result.metric(k, v, u) }
    result.notes += s"night_batch: $n alerts, ${latencies.size} deliveries"

    tracer.foreach { t =>
      chainLayers(spark, t, runs, l, result)
      t.attach()
      staticLayers(spark, t, wireDir, schemaJson, l, result)
      t.detach()
      live(spark, t, args, schemaJson, result)
      t.report(args, result)
      // the same chain again at 4 cores and at 1, both in the warm JVM
      val four = chainRate(spark, 4, args, schemaJson)
      result.layerMetric("jobs.spine.speedup_4v1", four / chainRate(spark, 1, args, schemaJson), "ratio")
    }
  }

  /** jobs.* and the fan-out's scan and emit counts of a traced chain. */
  def chainLayers(spark: SparkSession, t: Tracer, runs: Seq[StageRun], l: Lakes,
      result: Result): Unit = {
    result.layerMetric("jobs.spine.alerts_per_s", BatchAlerts / runs.map(_.wallS).sum, "1/s")
    runs.foreach { r =>
      val s = t.taskSums(r.span)
      val p = s"jobs.${r.stage}"
      // the fan-out reads every science row once per filter
      val per = if (r.stage == "distribute") Filters.size.toDouble else 1.0
      result.layerMetric(s"$p.s", r.wallS, "s")
      result.layerMetric(s"$p.alerts_per_s",
        progressOf(t, r.span).map(_.numInputRows.toDouble).sum / per / r.wallS, "1/s")
      result.layerMetric(s"$p.cpu_s", s.cpuS, "s")
      result.layerMetric(s"$p.gc_s", s.gcS, "s")
      if (r.stage != "stream2raw") result.layerMetric(s"$p.input_bytes", s.inputBytes.toDouble, "bytes")
      if (r.stage != "distribute") result.layerMetric(s"$p.output_bytes", s.outputBytes.toDouble, "bytes")
    }
    val scan = progressOf(t, runs.last.span).map(_.numInputRows.toDouble).sum
    val emit = filterNames.map(f => spark.read.parquet(l.topic(f)).count()).sum.toDouble
    result.layerMetric("streaming.distribute.queries", Filters.size.toDouble, "count")
    result.layerMetric("streaming.distribute.scan_rows", scan, "count")
    result.layerMetric("streaming.distribute.emit_rows", emit, "count")
    result.layerMetric("streaming.distribute.emit_per_scan", emit / scan, "ratio")
  }

  /** The live run of a traced `night_batch`: the three services run with
    * their default ProcessingTime(0) triggers while an open-loop generator
    * releases one pre-encoded wire file per second at ZTF's rate for
    * `seconds` seconds; live alerts carry `LiveStampBytes` of random bytes
    * per cutout. The services start on a priming file first, each once the
    * lake it reads exists, as in production. Reports streaming.*,
    * streaming.live.* and the delivery latencies; its lakes are checked. */
  def live(spark: SparkSession, t: Tracer, args: Args, schemaJson: String, result: Result): Unit = {
    val work = s"${args.work}/live"
    val files = args.seconds
    // cumulative alert count at the start of each file
    val bounds = (0 to files).map(k => math.floor(k * LiveRate).toInt)
    val liveAlerts = bounds.last
    val wireDir = Paths.get(s"$work/wire")
    wire(alerts(spark, PrimeAlerts, 0L, args.seed + 1, 0)).coalesce(1).write.parquet(s"$work/prime")
    val live = alerts(spark, liveAlerts, PrimeAlerts, args.seed, LiveStampBytes)
    require(AvroFunctions.avroSchemaJson(live.schema) == schemaJson, "wire schemas differ")
    val idx = row_number().over(Window.orderBy("candid")) - 1
    val fileOf = udf((i: Int) => bounds.lastIndexWhere(_ <= i))
    live.withColumn("file", fileOf(idx)).select(col("file"), wireValue(live))
      .repartition(col("file")).write.partitionBy("file").parquet(s"$work/staging")
    def parquetFiles(dir: String) = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    val staged = (0 until files).map(k => parquetFiles(s"$work/staging/file=$k").head)
    val fileOfCandid = spark.read.parquet(s"$work/staging")
      .select(AvroFunctions.fromAvro(col("value"), schemaJson).getField("candid"), col("file"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val l = Lakes(s"$work/lakes")
    def release(file: Path, name: String): Unit =
      Files.move(file, wireDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)

    t.attach()
    val trig = Trigger.ProcessingTime(0L)
    val ids = Stages.map(s => s -> t.nextId()).toMap
    def start(stage: String)(qs: => Seq[StreamingQuery]): Seq[StreamingQuery] = {
      val started = inScope(spark, ids(stage))(qs)
      started.foreach(q => t.bindQuery(q.id, ids(stage)))
      started.foreach(_.processAllAvailable())
      started
    }
    Files.createDirectories(wireDir)
    release(parquetFiles(s"$work/prime").head, "prime.parquet")
    val services = start("stream2raw")(Seq(startStream2raw(spark, wireDir.toString, schemaJson, l, trig))) ++
      start("raw2science")(Seq(startRaw2science(spark, l, trig))) ++
      start("distribute")(startDistribute(spark, l, trig))
    Stages.foreach(s => t.takeSums(ids(s)))
    Main.phase("live services up")

    // open-loop generator: file k is due at t0 + k seconds
    val q1 = services.head
    val late = mutable.ArrayBuffer[Double]()
    var backlogMax = 0
    val t0 = Clock.ms() + 200.0
    val cpu0 = Clock.processCpuS()
    val gen = new Thread(() => {
      (0 until files).foreach { k =>
        val due = t0 + k * 1000.0
        val wait = due - Clock.ms()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        release(staged(k), f"live-$k%05d.parquet")
        late += (Clock.ms() - due) / 1000.0
        val done = q1.recentProgress.map(_.numInputRows).sum - PrimeAlerts
        backlogMax = math.max(backlogMax, k + 1 - (bounds.count(_ <= done) - 1))
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    services.foreach(_.processAllAvailable())
    val tEnd = Clock.ms()
    val cpuS = Clock.processCpuS() - cpu0
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    services.foreach(_.stop())
    Stages.foreach(st => t.record(ids(st), t.root, "stage", s"$st (live)", t0, tEnd))
    t.detach()
    Main.phase("live drained")

    checkLakes(spark, l, PrimeAlerts + liveAlerts, "live", drop = false, result)
    // One latency per (alert, topic) delivery: the topic sink's commit of
    // the batch that read the alert's science file, minus the alert's due
    // time. The batch comes from the topic query's source log, so no
    // payload has to be decoded.
    val sci = spark.read.parquet(l.science)
      .withColumn("_file", element_at(split(input_file_name(), "/"), -1))
    val frame = Nightly.distributionFrame(sci)
    val sciRows = frame.select(Seq(col("_file"), col("candid")) ++
      Filters.map { case (f, p) => coalesce(p(frame), lit(false)).as(f) }: _*).collect()
    val latencies = filterNames.zipWithIndex.flatMap { case (f, i) =>
      val commitOf = sinkCommits(l.topic(f)).map(e => e._1 -> e._2).toMap
      val batchOf = logEntries(Paths.get(l.ck("distribute"), f, "sources", "0"))
        .flatMap { case (b, _, fs) => fs.map(_ -> b) }.toMap
      sciRows.filter(_.getBoolean(2 + i)).flatMap { r =>
        fileOfCandid.get(r.getLong(1)).map(k =>
          (commitOf(batchOf(r.getString(0))) - (t0 + k * 1000.0)) / 1000.0)
      }
    }
    result.layerMetric("streaming.live.latency_p50_s", Stats.quantile(latencies, 0.5), "s")
    result.layerMetric("streaming.live.latency_p90_s", Stats.quantile(latencies, 0.9), "s")
    result.layerMetric("streaming.live.cpu_s_per_kalert", cpuS / (liveAlerts / 1000.0), "s")
    result.layerMetric("streaming.live.backlog_max_files", backlogMax.toDouble, "count")
    result.layerMetric("streaming.live.generator_late_max_s", late.max, "s")
    streamingLayers(t, ids, t0, result)
    result.notes += s"live: $liveAlerts alerts in $files files, ${latencies.size} deliveries"
  }

  def progressOf(t: Tracer, span: Long) =
    Option(t.progress.get(span)).map(_.asScala.toSeq.map(_.progress)).getOrElse(Nil)

  /** Alerts/s of one AvailableNow chain over the run's wire files at
    * `cores`, in a new session over fresh lakes. A JVM holds one
    * SparkContext, so the active session is stopped first. */
  def chainRate(spark: SparkSession, cores: Int, args: Args, schemaJson: String): Double = {
    SparkSession.getActiveSession.foreach(_.stop())
    val s = Main.session(cores)
    try {
      val runs = runChain(s, s"${args.work}/wire", schemaJson, Lakes(s"${args.work}/cores$cores"), None)
      BatchAlerts / runs.map(_.wallS).sum
    } finally s.stop()
  }
}
