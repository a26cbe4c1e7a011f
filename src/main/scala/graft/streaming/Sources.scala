package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Streaming sources (SURVEY §2.1).
  *
  * S2 file streams mirror the reference's connect-to-lake semantics
  * (ref: common/spark_utils.py:311-368): the schema is probed from the
  * static lake after a bounded retry-wait for the directory to appear
  * (the raw lake materializes only when the night's first batch lands).
  *
  * S1 Kafka is a config builder: the option surface (subscribe pattern,
  * offsets, rate limit, data-loss tolerance, SASL) is the contract the
  * reference exercises (ref: common/spark_utils.py:225-308); `load()`
  * requires the spark-sql-kafka connector on the cluster classpath.
  */
object Sources {

  /** S2: parquet directory as a stream, its schema probed from the
    * static lake with [[probeSchema]]'s default wait. */
  def fileStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(probeSchema(spark, path))
      .option("basePath", path)
      .parquet(path)

  /** Schema of the static lake at `path`, waiting for it to exist. */
  def probeSchema(
      spark: SparkSession,
      path: String,
      retries: Int = 6,
      waitMillis: Long = 5000L): StructType = {
    val fs = FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (!fs.exists(new Path(path)) && attempt < retries) {
      attempt += 1
      Thread.sleep(waitMillis)
    }
    require(fs.exists(new Path(path)),
      s"lake $path did not appear after $retries waits")
    spark.read.option("mergeSchema", "true").parquet(path).schema
  }

  /** S3: static scan with schema merging across drifted files. */
  def staticLake(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** S1 option surface. */
  final case class KafkaConfig(
      servers: String,
      topicPattern: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = Some(5000L),
      failOnDataLoss: Boolean = false,
      saslJaas: Option[String] = None,
      saslMechanism: Option[String] = None,
      securityProtocol: Option[String] = None) {

    def options: Map[String, String] = {
      val base = Map(
        "kafka.bootstrap.servers" -> servers,
        "subscribePattern" -> topicPattern,
        "startingOffsets" -> startingOffsets,
        "failOnDataLoss" -> failOnDataLoss.toString)
      base ++
        maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString) ++
        saslJaas.map("kafka.sasl.jaas.config" -> _) ++
        saslMechanism.map("kafka.sasl.mechanism" -> _) ++
        securityProtocol.map("kafka.security.protocol" -> _)
    }
  }

  /** S1: Kafka stream (requires the kafka connector at runtime). */
  def kafkaStream(spark: SparkSession, config: KafkaConfig): DataFrame =
    config.options
      .foldLeft(spark.readStream.format("kafka")) { case (r, (k, v)) =>
        r.option(k, v)
      }
      .load()
}
