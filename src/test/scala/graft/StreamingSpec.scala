package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.alerts.{AlertFunctions, AlertSchema}
import graft.avro.AvroFunctions
import graft.streaming.{FilterRegistry, Sinks, Sources}

/** The live streaming spine (S1/S2, K1-K3/K6, F6, T1-T6): file-stream
  * in → transform → sinks, exactly-once across checkpoint restarts,
  * multi-filter fan-out, Kafka payload shape.
  */
class StreamingSpec extends SparkTestBase {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("file-stream → parquet sink is exactly-once across restart (S2/K1/T3)") {
    // Run once into an unpartitioned sink, and once into the lakes' y/m/d
    // layout over input written as 4 files that each span every night.
    val nights = Seq("year", "month", "day")
    def plain(n: Int, seed: Long) = AlertSchema.fixture(spark, n, seed = seed)
    def dated(n: Int, seed: Long) = AlertFunctions.withDatePartitions(
      AlertSchema.fixture(spark, n, seed = seed),
      AlertFunctions.jdToTimestamp(col("candidate.jd"))).repartition(4)
    // the fixture puts 100 alerts in each night: 300 span 3, 150 span 2
    exactlyOnceAcrossRestart(Nil, plain(40, 42L), plain(25, 7L))
    exactlyOnceAcrossRestart(nights, dated(300, 42L), dated(150, 7L))
  }

  /** Parquet files under each leaf partition directory of `out`. */
  private def filesPerLeaf(out: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(out)
    Files.walk(root).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .groupBy(p => root.relativize(p.getParent).toString)
      .map { case (dir, files) => dir -> files.size }
  }

  private def exactlyOnceAcrossRestart(
      partitionCols: Seq[String],
      first: DataFrame,
      delta: DataFrame): Unit = {
    val in = tmp("graft_in_")
    val out = tmp("graft_out_")
    val ckpt = tmp("graft_ckpt_")
    first.write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val stream = Sources.fileStream(spark, in)
      val q = Sinks.parquetSink(
        AlertFunctions.qualityCuts(stream),
        out, ckpt, Trigger.AvailableNow(), partitionCols = partitionCols)
      q.awaitTermination(120000)
      ()
    }
    // each leaf directory a batch's rows reach gains exactly one file
    def leaves(df: DataFrame): Set[String] =
      AlertFunctions.qualityCuts(df).select(partitionCols.map(col): _*)
        .distinct().collect()
        .map(r => partitionCols.zipWithIndex.map { case (c, i) => s"$c=${r.get(i)}" }
          .mkString("/")).toSet
    def oneFilePerLeaf(before: Map[String, Int], batch: DataFrame): Unit =
      if (partitionCols.nonEmpty) {
        val after = filesPerLeaf(out)
        val touched = leaves(batch)
        assert(touched.size >= 2, s"the batch must span several nights: $touched")
        (after.keySet ++ before.keySet).foreach { dir =>
          val gained = after.getOrElse(dir, 0) - before.getOrElse(dir, 0)
          assert(gained === (if (touched(dir)) 1 else 0),
            s"$dir gained $gained files in one batch (before $before, after $after)")
        }
      }

    runOnce()
    oneFilePerLeaf(Map.empty, first)
    val firstCount = spark.read.parquet(out).count()
    val expectFirst = AlertFunctions.qualityCuts(first).count()
    assert(firstCount === expectFirst)

    // restart with MORE data: only the delta may be appended
    delta.write.mode("append").parquet(in)
    val beforeDelta = filesPerLeaf(out)
    runOnce()
    oneFilePerLeaf(beforeDelta, delta)
    val secondCount = spark.read.parquet(out).count()
    val expectDelta = AlertFunctions.qualityCuts(delta).count()
    assert(secondCount === expectFirst + expectDelta,
      "checkpoint restart must process exactly the new files")

    // third run with nothing new: no duplicates
    val beforeIdle = filesPerLeaf(out)
    runOnce()
    assert(spark.read.parquet(out).count() === secondCount)
    assert(filesPerLeaf(out) === beforeIdle)
  }

  test("probeSchema waits then reads the lake schema; fails after retries") {
    val lake = tmp("graft_lake_")
    AlertSchema.fixture(spark, 5).write.mode("overwrite").parquet(lake)
    val schema = Sources.probeSchema(spark, lake)
    assert(schema.fieldNames.contains("objectId"))
    intercept[IllegalArgumentException] {
      Sources.probeSchema(spark, lake + "_nope", retries = 1, waitMillis = 10L)
    }
  }

  test("staticLake merges drifted schemas across multi-path loads (S3)") {
    import spark.implicits._
    val d1 = tmp("graft_day1_")
    val d2 = tmp("graft_day2_")
    Seq((1L, 0.5)).toDF("candid", "rb").write.mode("overwrite").parquet(d1)
    // day 2 adds a column (schema drift)
    Seq((2L, 0.9, 0.8)).toDF("candid", "rb", "drb")
      .write.mode("overwrite").parquet(d2)
    val merged = Sources.staticLake(spark, d1, d2)
    assert(merged.columns.toSet === Set("candid", "rb", "drb"))
    val rows = merged.orderBy("candid").collect()
    assert(rows.length === 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("drb")), "old file null-fills")
    assert(rows(1).getDouble(rows(1).fieldIndex("drb")) === 0.8)
  }

  test("foreachBatch sink sees every micro-batch exactly once (K3)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Long]
    source.addData(1L to 10L: _*)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = Sinks.foreachBatchSink(
      source.toDF(), tmp("graft_fb_ckpt_"), Trigger.AvailableNow()) {
      (batch, _) => batch.collect().foreach(r => seen.add(r.getLong(0)))
    }
    q.awaitTermination(60000)
    assert(seen.toArray.map(_.asInstanceOf[Long]).sorted.toSeq === (1L to 10L))
  }

  test("multi-filter fan-out: one query per filter over a shared source (F6/T5)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    FilterRegistry.register("high_rb", df => df("rb") >= 0.8)
    FilterRegistry.register("band1", df => df("fid") === 1)
    FilterRegistry.register("faint", df => df("mag") > 20.0)
    assert(FilterRegistry.names.containsSlice(Seq("band1", "faint", "high_rb")))
    assert(FilterRegistry.topicFor("high_rb") === "fink_high_rb")

    val source = MemoryStream[(Long, Double, Int, Double)]
    source.addData(
      (1L, 0.9, 1, 21.0), (2L, 0.5, 2, 19.0), (3L, 0.85, 2, 20.5),
      (4L, 0.2, 1, 18.0), (5L, 0.95, 1, 17.0))
    val df = source.toDF().toDF("candid", "rb", "fid", "mag")
    val ckptRoot = tmp("graft_fan_")
    val queries = FilterRegistry.fanOut(
      df, Seq("high_rb", "band1", "faint"), ckptRoot, Trigger.AvailableNow()) {
      (filtered, name, ckpt) =>
        filtered.writeStream.format("memory").queryName(s"sink_$name")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
    }
    queries.foreach(_.awaitTermination(60000))
    def ids(t: String) =
      spark.table(t).select("candid").collect().map(_.getLong(0)).toSet
    assert(ids("sink_high_rb") === Set(1L, 3L, 5L))
    assert(ids("sink_band1") === Set(1L, 4L, 5L))
    assert(ids("sink_faint") === Set(1L, 3L))
  }

  test("complete-mode CSV workaround overwrites per batch (K6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Int]
    source.addData(1, 1, 2, 3, 3, 3)
    val out = tmp("graft_csv_")
    val agg = source.toDF().groupBy("value").count()
    val q = Sinks.csvCompleteSink(agg, out, tmp("graft_csv_ckpt_"),
      Trigger.AvailableNow())
    q.awaitTermination(60000)
    val rows = spark.read.option("header", "true").csv(out)
      .collect().map(r => r.getString(0).toInt -> r.getString(1).toLong).toMap
    assert(rows === Map(1 -> 2L, 2 -> 1L, 3 -> 3L))
  }

  test("kafka payload: key is the reader schema, value round-trips (K2)") {
    val alerts = AlertSchema.fixture(spark, 8).select("objectId", "candid")
    val payload = Sinks.kafkaPayload(alerts, nPartitions = Some(4))
    assert(payload.columns.toSeq === Seq("key", "value", "partition"))
    val schemaJson = AvroFunctions.avroSchemaJson(alerts.schema)
    val keys = payload.select(col("key").cast("string")).distinct().collect()
    assert(keys.length === 1 && keys(0).getString(0) === schemaJson)
    val decoded = payload
      .select(AvroFunctions.fromAvro(col("value"), schemaJson).as("d"))
      .select("d.*")
    assert(decoded.orderBy("candid").collect().map(_.toString).toSeq ===
      alerts.orderBy("candid").collect().map(_.toString).toSeq)
    val parts = payload.select("partition").distinct()
      .collect().map(_.getInt(0))
    assert(parts.forall(p => p >= 0 && p < 4))
  }

  /** Alerts in parquet, so `classification` is a nullable column of a
    * file scan. A filter on it narrows the column to non-nullable in the
    * physical plan. */
  private def writeClassifiedAlerts(): String = {
    val dir = tmp("graft_payload_src_")
    spark.range(30).select(
        concat(lit("ZTF"), col("id").cast("string")).as("objectId"),
        col("id").as("candid"),
        when(col("id") % 3 === 0, lit(null).cast("string"))
          .when(col("id") % 3 === 1, "variable_candidate")
          .otherwise("transient_candidate").as("classification"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private val variableIds = (0L until 30L).filter(_ % 3 == 1).toSet

  /** Candids of payload rows, each decoded with the schema in its key. */
  private def decodeWithOwnKey(rows: Array[org.apache.spark.sql.Row]): Seq[Long] =
    rows.toSeq.map { r =>
      val schema = new org.apache.avro.Schema.Parser()
        .parse(new String(r.getAs[Array[Byte]]("key"), "UTF-8"))
      val rec = new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord](schema)
        .read(null, org.apache.avro.io.DecoderFactory.get()
          .binaryDecoder(r.getAs[Array[Byte]]("value"), null))
      assert(rec.get("classification").toString === "variable_candidate")
      rec.get("candid").asInstanceOf[Long]
    }

  test("kafka payload after a filter on a nullable column decodes with its key") {
    val alerts = spark.read.parquet(writeClassifiedAlerts())
    val payload = Sinks.kafkaPayload(
      alerts.filter(col("classification") === "variable_candidate"))
    val got = decodeWithOwnKey(payload.collect())
    assert(got.sorted === variableIds.toSeq.sorted)
  }

  test("streamed kafka payload after a filter on a nullable column decodes with its key") {
    val dir = writeClassifiedAlerts()
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
      .filter(col("classification") === "variable_candidate")
    val q = Sinks.kafkaPayload(stream).writeStream
      .format("memory").queryName("graft_filtered_payload")
      .option("checkpointLocation", tmp("graft_payload_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val got = decodeWithOwnKey(spark.table("graft_filtered_payload").collect())
    assert(got.sorted === variableIds.toSeq.sorted)
  }

  test("kafka source option surface (S1)") {
    val cfg = Sources.KafkaConfig(
      servers = "broker:9092",
      topicPattern = "ztf_.*",
      startingOffsets = "earliest",
      maxOffsetsPerTrigger = Some(10000L),
      failOnDataLoss = false,
      saslMechanism = Some("SCRAM-SHA-512"),
      securityProtocol = Some("SASL_PLAINTEXT"))
    val opts = cfg.options
    assert(opts("subscribePattern") === "ztf_.*")
    assert(opts("maxOffsetsPerTrigger") === "10000")
    assert(opts("startingOffsets") === "earliest")
    assert(opts("kafka.sasl.mechanism") === "SCRAM-SHA-512")
    assert(!opts.contains("kafka.sasl.jaas.config"))
  }

  test("trigger mapping (T1)") {
    assert(Sinks.triggerOf(0) === Trigger.ProcessingTime(0L))
    assert(Sinks.triggerOf(300) === Trigger.ProcessingTime(300000L))
  }
}
