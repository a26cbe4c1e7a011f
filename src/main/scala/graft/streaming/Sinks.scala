package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.avro.{AvroFunctions, ToAvro}

/** Streaming sinks (SURVEY §2.2) with the reference's checkpoint/
  * trigger topology: one checkpoint per sink, append mode, optional
  * processing-time trigger (0 ⇒ as-fast-as-possible).
  */
object Sinks {

  def triggerOf(processingTimeSecs: Long): Trigger =
    if (processingTimeSecs <= 0) Trigger.ProcessingTime(0L)
    else Trigger.ProcessingTime(processingTimeSecs * 1000L)

  /** K1: parquet append sink with checkpoint + optional y/m/d layout.
    *
    * Layout contract: with `partitionCols`, each micro-batch writes one
    * file per partition value (for the lakes, one file per night). The
    * batch is hash-repartitioned by those columns, so all rows of a value
    * reach one write task. The cost is one shuffle per batch, and a batch
    * inside one night is written by one task either way, so it gains no
    * file-count reduction. It pays because every downstream reader pays
    * per file and per column, and the fan-out reads the science lake once
    * per filter.
    */
  def parquetSink(
      df: DataFrame,
      path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      partitionCols: Seq[String] = Nil,
      queryName: Option[String] = None): StreamingQuery = {
    val clustered =
      if (partitionCols.isEmpty) df else df.repartition(partitionCols.map(col): _*)
    var w = clustered.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    queryName.foreach(n => w = w.queryName(n))
    w.start()
  }

  /** K3: foreachBatch sink — the adapter seam for batch-only writers
    * (the reference wraps its HBase writer this way).
    */
  def foreachBatchSink(
      df: DataFrame,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L))(
      f: (Dataset[Row], Long) => Unit): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(f)
      .start()

  /** Idempotent side-effect write for a [[foreachBatchSink]] callback:
    * `rows` land in the `batch_id=<batchId>` partition of the parquet
    * table at `path`, replacing whatever that partition held. A
    * foreachBatch callback is at-least-once (a failure between the write
    * and the checkpoint commit replays the batch), so a plain append
    * would write a replayed batch twice; the dynamic partition overwrite
    * rewrites only this batch's partition and leaves the others alone.
    * Read back, `batch_id` is inferred as int; cast it to long.
    */
  def writeBatchPartition(rows: DataFrame, batchId: Long, path: String): Unit =
    rows.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** K6: Complete-mode CSV workaround — file sinks can't run complete
    * mode, so each batch's full result overwrites one CSV (ref:
    * common/spark_utils.py:126-155 does driver-side to_csv; here it
    * stays an executor write).
    */
  def csvCompleteSink(
      aggregated: DataFrame,
      path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    aggregated.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.coalesce(1).write.mode("overwrite")
          .option("header", "true").csv(path)
      }
      .start()

  /** K2 payload shape: the Kafka message frame the reference publishes —
    * value = avro(struct(all columns)), key = the reader schema JSON,
    * partition = uniform random spread (ref: common/distribution_utils
    * .py:92-140). Pure transform, usable on static or streaming frames.
    * Key and value both follow the schema of `df` as analyzed, so every
    * payload decodes with its own key.
    */
  def kafkaPayload(df: DataFrame, nPartitions: Option[Int] = None): DataFrame = {
    val schemaJson = AvroFunctions.avroSchemaJson(df.schema)
    val value = ToAvro(shims.expression(struct(df.columns.map(col): _*)),
      Some(schemaJson))
    val base = df.select(
      lit(schemaJson).cast("binary").as("key"),
      shims.column(value).as("value"))
    nPartitions match {
      case Some(n) =>
        base.withColumn("partition", (rand(seed = 0) * n).cast("int"))
      case None => base
    }
  }

  /** K2: Kafka sink writer (requires the kafka connector at runtime). */
  def kafkaSink(
      df: DataFrame,
      servers: String,
      topic: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      nPartitions: Option[Int] = None): DataStreamWriter[Row] =
    kafkaPayload(df, nPartitions).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
}
