package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.alerts._

/** The nightly batch spine (SURVEY §7.2) over the ZTF-shaped fixture:
  * quality cuts → concatCol histories → deterministic score +
  * classification → hive-partitioned parquet lake → read-back, plus the
  * schema-drift (P3/P4), row-key (P7/Y4) and compaction (Y2) operators.
  */
class AlertPipelineSpec extends SparkTestBase {

  private lazy val alerts = AlertSchema.fixture(spark, n = 300)

  test("fixture has the declared nested shape") {
    assert(alerts.schema("candidate").dataType.isInstanceOf[StructType])
    assert(alerts.count() === 300)
  }

  test("quality cuts keep only clean detections") {
    val cut = AlertFunctions.qualityCuts(alerts)
    val n = cut.count()
    assert(n > 0 && n < 300)
    val bad = cut.filter(
      col("candidate.nbad") =!= 0 || col("candidate.rb") < 0.55 ||
        col("candidate.fid") === 3).count()
    assert(bad === 0)
  }

  test("concatCol appends current detection to history, null-safe") {
    val withHist = AlertFunctions.concatCols(alerts, Seq("magpsf", "jd"))
    val rows = withHist
      .select(size(coalesce(col("prv_candidates"), array())).as("nprv"),
        size(col("cmagpsf")).as("nc"),
        col("candidate.magpsf"), element_at(col("cmagpsf"), -1))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(1) === r.getInt(0) + 1, "history length + 1")
      assert(r.getFloat(2) === r.getFloat(3), "current value is last")
    }
  }

  /** Timestamp → Julian date: the inverse that checks
    * `AlertFunctions.jdToTimestamp`. */
  private def timestampToJd(ts: Column): Column =
    unix_micros(ts).cast("double") / lit(86400000000.0) + lit(2440587.5)

  test("jd/timestamp conversions invert and hit the known epoch") {
    import spark.implicits._
    // JD 2440587.5 == 1970-01-01T00:00:00Z (public almanac anchor)
    val df = Seq(2440587.5, 2459000.5, 2451544.5).toDF("jd")
    val rt = df.select(
      col("jd"),
      timestampToJd(AlertFunctions.jdToTimestamp(col("jd"))).as("rt"),
      AlertFunctions.jdToTimestamp(col("jd")).cast("string").as("ts"))
      .collect()
    rt.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
    assert(rt(0).getString(2).startsWith("1970-01-01 00:00:00"))
    assert(rt(2).getString(2).startsWith("2000-01-01 00:00:00"))
  }

  test("e2e: cuts → histories → score → partitioned lake → read-back") {
    val dir = Files.createTempDirectory("graft_lake_").toString
    val scored = {
      val c = AlertFunctions.concatCols(
        AlertFunctions.qualityCuts(alerts), Seq("magpsf", "jd"))
        .withColumn("score", AlertPipelineSpec.deterministicScore(col("cmagpsf")))
      AlertFunctions.withDatePartitions(
        c.withColumn("class",
          AlertFunctions.classify(col("score"), size(col("cmagpsf")) - 1)),
        AlertFunctions.jdToTimestamp(col("candidate.jd")))
    }
    scored.write.mode("overwrite")
      .partitionBy("year", "month", "day").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === scored.count())
    // partition pruning: a day filter must prune input files
    val day = back.filter(col("year") === "2020" && col("month") === "05")
    val plan = day.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [isnotnull(year"), plan)
    // classification populated
    assert(back.filter(col("class").isin("transient_candidate",
      "variable_candidate", "bogus")).count() === back.count())
  }

  test("conform: drifted schema gets casts and typed defaults") {
    import spark.implicits._
    val drifted = Seq((1L, "a", 2.5f)).toDF("candid", "objectId", "rb")
    val wanted = StructType(Seq(
      StructField("candid", LongType),
      StructField("objectId", StringType),
      StructField("rb", DoubleType), // type widened
      StructField("drb", DoubleType), // missing → 0.0
      StructField("note", StringType))) // missing → ""
    val (out, missing) = Flatten.conform(drifted, wanted)
    assert(missing === Seq("drb", "note"))
    assert(out.schema.map(_.dataType) ===
      Seq(LongType, StringType, DoubleType, DoubleType, StringType))
    val r = out.collect()(0)
    assert(r.getDouble(2) === 2.5 && r.getDouble(3) === 0.0 && r.getString(4) === "")
  }

  test("flattenAll produces dotted-path leaf columns") {
    val flat = Flatten.flattenAll(alerts.select("objectId", "candid", "candidate"))
    assert(flat.columns.contains("candidate_jd"))
    assert(flat.columns.contains("candidate_magpsf"))
    assert(flat.count() === 300)
  }

  test("selectRelevant keeps existing, reports missing") {
    val (out, missing) =
      Flatten.selectRelevant(alerts, Seq("objectId", "candid", "nosuchcol"))
    assert(out.columns.toSeq === Seq("objectId", "candid"))
    assert(missing === Seq("nosuchcol"))
  }

  test("row keys and salts") {
    val keyed = RowKeys.saltedRowKey(
      alerts.select(col("objectId"), col("candid")),
      saltSource = "candid", n = 3, cols = Seq("objectId", "candid"))
    val r = keyed.filter(col("candid") === 1000000042L).collect()(0)
    assert(r.getAs[String]("row_key") === "ZTF18000042_1000000042")
    assert(r.getAs[String]("salted_key") === "042_ZTF18000042_1000000042")
    intercept[IllegalArgumentException] {
      RowKeys.rowKey(alerts, Seq("objectId", "missing_col"))
    }
  }

  test("compaction coalesces many small partitions down, never up") {
    val spread = alerts.repartition(24)
    val compacted = Compaction.compact(spread)
    assert(compacted.rdd.getNumPartitions < 24)
    val tiny = alerts.coalesce(1)
    assert(Compaction.compact(tiny).rdd.getNumPartitions === 1)
  }
}

object AlertPipelineSpec {

  /** A deterministic score from the magnitude history (stands in for the
    * ML scorers, ref --noscience precedent at bin/ztf/raw2science.py:
    * 97-104). History arrays carry NULL entries for upper limits
    * (non-detections); they are masked BEFORE folding — acc + NULL would
    * null the whole sum (the reference rfscore drops NaN history the same
    * way).
    */
  def deterministicScore(cmagpsf: Column): Column = {
    val valid = filter(cmagpsf, x => x.isNotNull)
    val n = size(valid)
    val mean = aggregate(valid, lit(0.0), (acc, x) => acc + x.cast("double")) / n
    when(n > 0, (lit(22.0) - mean) / lit(22.0)).otherwise(lit(0.0))
  }
}
