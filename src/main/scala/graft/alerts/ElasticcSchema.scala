package graft.alerts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The third survey: ELAsTICC-shaped alerts (§1.3 multi-survey claim —
  * the reference runs a dedicated DESC/ELAsTICC stream family next to
  * ZTF and Rubin; ref: bin/elasticc/distribute_elasticc.py).
  *
  * Its distribution semantics differ from the other two surveys: the
  * science frame's per-classifier scores are packed into a
  * `classifications` array<struct<classifierName, classifierParams,
  * classId, probability>> (ref: distribute_elasticc.py:76-158), broker
  * metadata columns are added on the fly (publish timestamp converted
  * from MJD to epoch millis, broker name/version), and the array is
  * exploded so alerts route into PER-CLASS topics downstream
  * (distribute_elasticc.py:63). Everything here is expression-only —
  * the classId extraction the reference defers to pandas UDFs is a
  * `getField` on the exploded struct.
  */
object ElasticcSchema {

  /** Unix epoch day number in MJD (1970-01-01 = MJD 40587). */
  val MjdUnixEpoch = 40587.0

  /** diaSource vocabulary: ELAsTICC 0.9 uses `midPointTai` (vs Rubin's
    * `midpointMjdTai`) — a genuinely third field vocabulary through the
    * registry.
    */
  private def diaSourceType: StructType = StructType(Seq(
    StructField("diaSourceId", LongType),
    StructField("midPointTai", DoubleType),
    StructField("ra", DoubleType),
    StructField("decl", DoubleType),
    StructField("psFlux", FloatType),
    StructField("psFluxErr", FloatType),
    StructField("filterName", StringType)))

  /** Science-frame schema at version "0.9": packet + the score columns
    * the distribution job consumes (the science TMP database rows,
    * ref: distribute_elasticc.py:83-91).
    */
  def alertSchema(version: String = "0.9"): StructType = StructType(Seq(
    StructField("alertId", LongType),
    StructField("diaSource", diaSourceType),
    StructField("brokerIngestTimestamp", LongType),
    StructField("snn_snia_vs_nonia", DoubleType),
    StructField("snn_sn_vs_all", DoubleType),
    StructField("rf_snia_vs_nonia", DoubleType)))

  /** The classifications entry type (ref classifications_schema string,
    * distribute_elasticc.py:77).
    */
  val classificationType: StructType = StructType(Seq(
    StructField("classifierName", StringType),
    StructField("classifierParams", StringType),
    StructField("classId", IntegerType),
    StructField("probability", FloatType)))

  /** MJD → epoch milliseconds (the reference's convert_to_millitime). */
  def mjdToMillis(mjd: Column): Column =
    ((mjd - lit(MjdUnixEpoch)) * lit(86400000.0)).cast("long")

  /** One classification entry from a score column. */
  private def entry(
      name: String, params: String, classId: Column, prob: Column): Column =
    struct(
      lit(name).as("classifierName"),
      lit(params).as("classifierParams"),
      classId.cast("int").as("classId"),
      prob.cast("float").as("probability"))

  /** The ELAsTICC taxonomy ids used by the stand-in classifiers
    * (111 = SN-like, 221 = AGN-like, 0 = "other"; the reference wires
    * the same constants, distribute_elasticc.py:94-103).
    */
  val SnLikeClass = 111
  val AgnLikeClass = 221
  val OtherClass = 0

  /** Format a science frame for ELAsTICC post-processing: broker
    * metadata + the packed classifications array, then the reference's
    * exact output projection (distribute_elasticc.py:57-160). Each
    * binary classifier contributes its probability and the complement
    * (the reference's score/1-score pairs).
    */
  def formatForElasticc(df: DataFrame, brokerVersion: String): DataFrame = {
    val snn = col("snn_snia_vs_nonia").cast("float")
    val broad = col("snn_sn_vs_all").cast("float")
    val early = col("rf_snia_vs_nonia").cast("float")
    df
      .withColumn("elasticcPublishTimestamp",
        mjdToMillis(col("diaSource.midPointTai")))
      .withColumn("brokerName", lit("graft"))
      .withColumn("brokerVersion", lit(brokerVersion))
      .withColumn("classifications", array(
        entry("SuperNNova SN Ia classifier", "version 1.1",
          lit(SnLikeClass), snn),
        entry("SuperNNova SN Ia classifier", "version 1.1",
          lit(OtherClass), lit(1.0f) - snn),
        entry("SuperNNova broad classifier", "version 1.1",
          when(broad >= 0.5f, AgnLikeClass).otherwise(SnLikeClass), broad),
        entry("EarlySN classifier", "version 1.0",
          lit(SnLikeClass), early),
        entry("EarlySN classifier", "version 1.0",
          lit(OtherClass), lit(1.0f) - early))
        .cast(ArrayType(classificationType)))
      .select(
        col("alertId"),
        col("diaSource.diaSourceId").as("diaSourceId"),
        col("elasticcPublishTimestamp"),
        col("brokerIngestTimestamp"),
        col("brokerName"),
        col("brokerVersion"),
        col("classifications"))
  }

  /** Per-class routing: explode the classifications array and stamp the
    * destination topic per classId (distribute_elasticc.py:63 +
    * topic-per-filter convention). Downstream fan-out filters on
    * `topic`, one streaming query per class, via FilterRegistry.
    */
  def explodePerClass(formatted: DataFrame, prefix: String = "elasticc"): DataFrame =
    formatted
      .select(col("*"), explode(col("classifications")).as("classification"))
      .drop("classifications")
      .withColumn("classId", col("classification.classId"))
      .withColumn("topic", concat_ws("_", lit(prefix), col("classId")))

  /** Register one FilterRegistry plugin per taxonomy class, returning
    * the registered filter names (topic = filter name, T5 fan-out).
    */
  def registerClassFilters(
      classIds: Seq[Int], prefix: String = "elasticc"): Seq[String] =
    classIds.map { id =>
      val name = s"${prefix}_$id"
      graft.streaming.FilterRegistry.register(name, df => df("classId") === id)
      name
    }
}
