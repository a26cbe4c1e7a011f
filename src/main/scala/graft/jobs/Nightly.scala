package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.alerts.AlertFunctions
import graft.avro.AvroFunctions
import graft.enrich.ScienceModules
import graft.streaming.{FilterRegistry, Sinks, Sources}

/** The nightly service chain (SURVEY §3, §7.2) as thin composable jobs:
  *
  *   stream2raw:  alert stream (Avro bytes) → decode → flatten →
  *                ingest timestamp → partitioned raw lake
  *   raw2science: raw lake file-stream → quality cuts → science
  *                modules → science lake
  *   distribute:  science lake file-stream → per-filter fan-out →
  *                Kafka-framed payloads → sinks
  *
  * Each stage is a pure DataFrame transform plus a sink call, so the
  * same code runs streaming (writeStream) or batch (write) — the
  * reference keeps this symmetry for its HBase writers too.
  */
object Nightly {

  /** stream2raw decode+flatten transform (ref: bin/ztf/stream2raw.py:
    * 95-134): Avro `value` bytes → struct → top-level columns +
    * brokerIngestTimestamp + y/m/d partition columns.
    */
  def decodeToRaw(stream: DataFrame, schemaJson: String): DataFrame = {
    val decoded = stream
      .select(AvroFunctions.fromAvro(col("value"), schemaJson).as("decoded"))
      .select(col("decoded.*"))
      .withColumn("brokerIngestTimestamp", current_timestamp())
    AlertFunctions.withDatePartitions(
      decoded, AlertFunctions.jdToTimestamp(col("candidate.jd")))
  }

  /** stream2raw sink: partitioned raw lake (K1/Y1/X9). */
  def stream2raw(
      stream: DataFrame,
      schemaJson: String,
      rawLake: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    Sinks.parquetSink(
      decodeToRaw(stream, schemaJson), rawLake, checkpoint, trigger,
      partitionCols = Seq("year", "month", "day"))

  /** raw2science transform: quality cuts + enrichment (one narrow
    * no-shuffle plan, ref: bin/ztf/raw2science.py:84-111).
    */
  def enrich(raw: DataFrame): DataFrame =
    ScienceModules(AlertFunctions.qualityCuts(raw))

  def raw2science(
      spark: SparkSession,
      rawLake: String,
      scienceLake: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    Sinks.parquetSink(
      enrich(Sources.fileStream(spark, rawLake)),
      scienceLake, checkpoint, trigger,
      partitionCols = Seq("year", "month", "day"))

  /** The distribution wire frame (ref: bin/ztf/distribute.py:76-109):
    * broker timestamps cast to string, the three cutout structs and the
    * candidate struct RE-PACKED (kept — it is the archive ingest that
    * drops stamps, ref: bin/ztf/archive_science.py:72). Pure projection,
    * shared by [[distribute]] and its tests.
    */
  def distributionFrame(science: DataFrame): DataFrame = {
    val exprs = science.columns.map {
      case c @ ("cutoutScience" | "cutoutTemplate" | "cutoutDifference") =>
        s"struct($c.*) AS $c"
      case c @ "candidate" => s"struct($c.*) AS $c"
      case c if c.startsWith("broker") && c.endsWith("Timestamp") =>
        s"CAST($c AS STRING) AS $c"
      case c => s"`$c`"
    }
    science.selectExpr(exprs: _*)
  }

  /** distribute: per-filter fan-out of Kafka-framed payloads. The
    * `sinkFor` seam lets tests swap the Kafka writer for memory sinks;
    * production passes Sinks.kafkaSink.
    */
  def distribute(
      spark: SparkSession,
      scienceLake: String,
      filterNames: Seq[String],
      checkpointRoot: String,
      trigger: Trigger = Trigger.ProcessingTime(0L))(
      sinkFor: (DataFrame, String, String) => StreamingQuery): Seq[StreamingQuery] = {
    val science = distributionFrame(Sources.fileStream(spark, scienceLake))
    FilterRegistry.fanOut(science, filterNames, checkpointRoot, trigger)(sinkFor)
  }
}
