package graft.alerts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Alert-domain column operators (SURVEY §2.11, §2.5): history-array
  * construction, time-scale conversions, quality cuts, classification
  * recodes. All expression-only — the nightly hot path has zero UDFs and
  * zero shuffles, matching the reference's embarrassingly-parallel
  * enrichment pipeline (ref: fink_broker/ztf/science.py:201-436).
  */
object AlertFunctions {

  /** X1 `concat_col`, for many fields in one projection (the reference
    * builds ~11 of these per batch): the full history of a per-detection
    * field = history array values + the current detection's value
    * appended, as column `prefix + field`. NULL history (no prior
    * detections) degrades to the 1-element array, matching the
    * reference's null-tolerant concat (ref: ztf/science.py:236-255 via
    * fink_utils concat_col).
    */
  def concatCols(
      df: DataFrame,
      fields: Seq[String],
      current: String = "candidate",
      history: String = "prv_candidates",
      prefix: String = "c"): DataFrame = {
    val hist = fields.map(f => col(s"$history.$f"))
    // one schema probe types every field's empty-history default
    val types = df.select(hist: _*).schema.map(_.dataType)
    df.select(col("*") +: fields.zip(hist).zip(types).map { case ((f, h), t) =>
      concat(coalesce(h, array().cast(t)), array(col(s"$current.$f"))).as(prefix + f)
    }: _*)
  }

  /** X11: Julian date → timestamp. Pure arithmetic — JD epoch offset to
    * Unix epoch is 2440587.5 days (public almanac constant); no
    * astronomy library needed.
    */
  def jdToTimestamp(jd: Column): Column =
    timestamp_micros(((jd - lit(2440587.5)) * lit(86400000000.0)).cast("long"))

  /** F1 quality cuts (ref: bin/ztf/raw2science.py:92-95): clean
    * detections only — no bad pixels, real-bogus above threshold, and a
    * physical filter band.
    */
  def qualityCuts(df: DataFrame): DataFrame =
    df.filter(
      col("candidate.nbad") === 0 &&
        col("candidate.rb") >= 0.55 &&
        col("candidate.fid") =!= 3)

  /** F2 compound log10 locus predicate — the shape of the reference's
    * tracklet locus cut (ref: ztf/tracklet_identification.py:60-80):
    * keep detections whose magnitude difference sits above the
    * log-distance locus line.
    */
  def locusCut(distnr: Column, magDiff: Column, offset: Double = 0.2): Column =
    magDiff > log10(distnr) + lit(offset)

  /** X6-style classification recode: a label from a score and the
    * history length (stands in for the ML classifiers — the engine
    * contract is column-in/column-out; ref --noscience precedent at
    * bin/ztf/raw2science.py:97-104).
    */
  def classify(score: Column, nHistory: Column): Column =
    when(score >= 0.5 && nHistory >= 2, "transient_candidate")
      .when(score >= 0.25, "variable_candidate")
      .otherwise("bogus")

  /** A5: latest event time inside the history array — fold with a −1.0
    * floor, replicating the reference's exact edge behavior including
    * its size==2 ⇒ 0.0 special case (ref: rubin/hbase_utils.py:
    * 1124-1134; SURVEY §7.4 hard-part 4). Null history ⇒ −1.0.
    */
  def maxHistoryTime(prv: Column, timeField: String = "jd"): Column = {
    val folded = aggregate(
      coalesce(prv, array()),
      lit(-1.0),
      (acc, x) => greatest(acc, x.getField(timeField).cast("double")))
    when(size(coalesce(prv, array())) === 2, lit(0.0)).otherwise(folded)
  }

  /** X5: history entries at or after a cutoff time — the HOF filter the
    * reference applies before re-packing recent history (ref:
    * rubin/hbase_utils.py:1136-1141). Null history ⇒ empty array.
    */
  def recentHistory(prv: Column, cutoff: Column, timeField: String = "jd"): Column =
    filter(
      coalesce(prv, array()),
      x => x.getField(timeField).cast("double") >= cutoff)

  /** X9: hive partition columns from a timestamp. */
  def withDatePartitions(df: DataFrame, ts: Column): DataFrame =
    df.withColumn("year", date_format(ts, "yyyy"))
      .withColumn("month", date_format(ts, "MM"))
      .withColumn("day", date_format(ts, "dd"))
}
