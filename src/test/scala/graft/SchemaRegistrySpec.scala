package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.alerts.{ElasticcSchema, RubinSchema}
import graft.core.SchemaRegistry
import SchemaRegistrySpec._

/** Versioned-schema behavior: stamp → probe → dispatch → upgrade. */
class SchemaRegistrySpec extends SparkTestBase {

  private val v1 = StructType(Seq(
    StructField("candid", LongType),
    StructField("rb", DoubleType)))
  private val v2 = StructType(Seq(
    StructField("candid", LongType),
    StructField("rb", DoubleType),
    StructField("drb", DoubleType))) // added in v2

  test("stamp, probe and dispatch by version") {
    import spark.implicits._
    SchemaRegistry.register("ztf", "1.0", v1)
    SchemaRegistry.register("ztf", "2.0", v2)
    assert(SchemaRegistry.versions("ztf") === Seq("1.0", "2.0"))
    assert(SchemaRegistry.latest("ztf").map(_._1) === Some("2.0"))

    val df = SchemaRegistry.stamp(Seq((1L, 0.9)).toDF("candid", "rb"), "1.0")
    assert(SchemaRegistry.probeVersion(df) === Some("1.0"))

    val out = SchemaRegistry.dispatch(df)(Map(
      "1.0" -> (d => d.withColumn("path", lit("v1"))),
      "2.0" -> (d => d.withColumn("path", lit("v2")))))
    assert(out.select("path").collect()(0).getString(0) === "v1")

    intercept[RuntimeException] {
      SchemaRegistry.dispatch(SchemaRegistry.stamp(df, "9.9"))(Map.empty)
    }
  }

  test("upgrade fills added fields with typed defaults") {
    import spark.implicits._
    SchemaRegistry.register("ztf", "1.0", v1)
    SchemaRegistry.register("ztf", "2.0", v2)
    val old = SchemaRegistry.stamp(Seq((7L, 0.5)).toDF("candid", "rb"), "1.0")
    val (upgraded, filled) = SchemaRegistry.upgradeTo(old, "ztf", "2.0")
    assert(filled === Seq("drb"))
    assert(SchemaRegistry.probeVersion(upgraded) === Some("2.0"))
    val r = upgraded.collect()(0)
    assert(r.getAs[Double]("drb") === 0.0 && r.getAs[Double]("rb") === 0.5)
  }

  test("two surveys dispatch end to end: ZTF and Rubin-shaped packets") {
    import graft.alerts.{AlertSchema, AlertFunctions}
    // register both surveys' packet schemas with their version strings
    SchemaRegistry.register("ztf", "3.3", AlertSchema.alertSchema)
    SchemaRegistry.register("rubin", "7.0", RubinSchema.alertSchema("7.0"))
    SchemaRegistry.register("rubin", "7.1", RubinSchema.alertSchema("7.1"))
    assert(SchemaRegistry.latest("rubin").map(_._1) === Some("7.1"))

    // each survey flattens through ITS OWN vocabulary (candidate.* vs
    // diaSource.*) — the dispatch map is the per-survey selectExpr
    // program the reference picks by stamped version
    val handlers = Map[String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      "3.3" -> (d => d.select(
        col("objectId").as("source_id"),
        col("candidate.jd").as("t"),
        col("candidate.ra").as("ra"),
        col("candidate.dec").as("dec"))),
      "7.1" -> (d => d.select(
        col("diaObject.diaObjectId").cast("string").as("source_id"),
        col("diaSource.midpointMjdTai").as("t"),
        col("diaSource.ra").as("ra"),
        col("diaSource.dec").as("dec"))))

    val ztf = SchemaRegistry.stamp(AlertSchema.fixture(spark, 30), "3.3")
    val rubin = SchemaRegistry.stamp(rubinFixture(spark, 30), "7.1")
    val ztfOut = SchemaRegistry.dispatch(ztf)(handlers)
    val rubinOut = SchemaRegistry.dispatch(rubin)(handlers)
    assert(ztfOut.columns.toSeq === rubinOut.columns.toSeq)
    assert(ztfOut.count() === 30 && rubinOut.count() === 30)
    // the unified view unions across surveys after dispatch
    assert(ztfOut.union(rubinOut).count() === 60)

    // v7.0 → v7.1 upgrade: reliability appears as a typed default
    // inside the nested diaSource struct via Flatten.conform
    val old = SchemaRegistry.stamp(
      rubinFixture(spark, 10, version = "7.0"), "7.0")
    assert(old.select("diaSource.*").columns.toSeq.contains("reliability") === false)
    val (upgraded, _) = SchemaRegistry.upgradeTo(old, "rubin", "7.1")
    assert(SchemaRegistry.probeVersion(upgraded) === Some("7.1"))
    assert(upgraded.select("diaSource.*").columns.contains("reliability"))
    assert(upgraded.filter(col("diaSource.reliability").isNull).count() === 0
      || upgraded.filter(col("diaSource.reliability") === 0.0f).count() === 10)

    // Rubin history HOFs run on the same engine operators (A5/X5 with
    // the survey's own time field)
    val hofs = rubin.select(
      AlertFunctions.maxHistoryTime(col("prvDiaSources"), "midpointMjdTai")
        .as("maxT"),
      size(AlertFunctions.recentHistory(
        col("prvDiaForcedSources"), lit(0.0), "midpointMjdTai")).as("nRecent"))
    assert(hofs.filter(col("maxT").isNull).count() === 0)
    assert(hofs.filter(col("nRecent") < 0).count() === 0)
  }

  test("schema version compare is numeric, not lexicographic") {
    // "10.0" >= "7.1" numerically (lexicographic says no — ADVICE r4);
    // future majors must keep the reliability field
    for (v <- Seq("7.1", "7.2", "8.0", "10.0"))
      assert(RubinSchema.alertSchema(v)("diaSource").dataType
        .asInstanceOf[StructType].fieldNames.contains("reliability"), v)
    for (v <- Seq("7.0", "6.9", "2.0"))
      assert(!RubinSchema.alertSchema(v)("diaSource").dataType
        .asInstanceOf[StructType].fieldNames.contains("reliability"), v)
  }

  test("third survey: ELAsTICC classification packing and per-class routing") {
    import graft.streaming.FilterRegistry

    SchemaRegistry.register("elasticc", "0.9", ElasticcSchema.alertSchema())
    for (s <- Seq("elasticc"))
      assert(SchemaRegistry.latest(s).map(_._1) === Some("0.9"))

    val df = SchemaRegistry.stamp(elasticcFixture(spark, 40), "0.9")
    assert(SchemaRegistry.probeVersion(df) === Some("0.9"))

    // version-dispatched formatting, like the other two surveys
    val formatted = SchemaRegistry.dispatch(df)(Map(
      "0.9" -> (d => ElasticcSchema.formatForElasticc(d, "5.0"))))

    // exact output projection + classifications schema (the reference's
    // cast(classifications_schema), distribute_elasticc.py:57-77)
    assert(formatted.columns.toSeq === Seq(
      "alertId", "diaSourceId", "elasticcPublishTimestamp",
      "brokerIngestTimestamp", "brokerName", "brokerVersion",
      "classifications"))
    assert(formatted.schema("classifications").dataType ===
      ArrayType(ElasticcSchema.classificationType))

    // MJD → epoch-millis conversion: one day past the unix epoch
    val ms = spark.range(1)
      .select(ElasticcSchema.mjdToMillis(lit(40588.0))).collect()(0).getLong(0)
    assert(ms === 86400000L)

    // per-class explode: every alert fans into its 5 classification rows
    val routed = ElasticcSchema.explodePerClass(formatted)
    assert(routed.count() === 40 * 5)
    assert(routed.filter(col("topic") =!=
      concat_ws("_", lit("elasticc"), col("classId"))).count() === 0)

    // FilterRegistry routes per-class topics: the three taxonomy filters
    // tile the exploded set exactly
    val names = ElasticcSchema.registerClassFilters(
      Seq(ElasticcSchema.OtherClass, ElasticcSchema.SnLikeClass,
        ElasticcSchema.AgnLikeClass))
    assert(names === Seq("elasticc_0", "elasticc_111", "elasticc_221"))
    try {
      val counts = names.map(n =>
        routed.filter(FilterRegistry.get(n).get(routed)).count())
      assert(counts.sum === routed.count())
      assert(counts.forall(_ > 0))

      // and the same routing end to end as a STREAMING fan-out: one
      // query per class topic over a shared exploded source (T5, the
      // reference's distribute topology for this survey)
      import java.nio.file.Files
      import org.apache.spark.sql.streaming.Trigger
      val lake = Files.createTempDirectory("graft_elc_").toString
      routed.write.mode("overwrite").parquet(lake)
      val src = spark.readStream.schema(routed.schema).parquet(lake)
      val ckpt = Files.createTempDirectory("graft_elc_ck_").toString
      val queries = FilterRegistry.fanOut(
        src, names, ckpt, Trigger.AvailableNow()) { (filtered, name, ck) =>
        filtered.writeStream.format("memory").queryName(s"cls_$name")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
      }
      queries.foreach(_.awaitTermination(60000))
      val streamed = names.map(n => spark.table(s"cls_$n").count())
      assert(streamed === counts)
    } finally {
      // the registry is global — leave no per-class filters behind for
      // suites that assert on FilterRegistry.names
      names.foreach(FilterRegistry.unregister)
    }
  }
}

object SchemaRegistrySpec {

  /** Deterministic Rubin-shaped batch at schema `version`. */
  def rubinFixture(
      spark: SparkSession,
      n: Int,
      version: String = "7.1",
      seed: Long = 4242L): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    val withRel = RubinSchema.versionAtLeast(version, "7.1")
    val rng = new scala.util.Random(seed)
    def src(id: Long, mjd: Double): Row = {
      val base = Seq[Any](
        id,
        mjd,
        rng.nextDouble() * 360.0,
        math.toDegrees(math.asin(rng.nextDouble() * 2 - 1)),
        (rng.nextDouble() * 2000).toFloat,
        (10 + rng.nextDouble() * 100).toFloat,
        "ugrizy".charAt(rng.nextInt(6)).toString)
      Row.fromSeq(if (withRel) base :+ rng.nextDouble().toFloat else base)
    }
    def forced(id: Long, mjd: Double): Row =
      Row(id, mjd, (rng.nextDouble() * 500).toFloat,
        (5 + rng.nextDouble() * 50).toFloat)
    val rows = (0 until n).map { i =>
      val objId = 9000000L + i % math.max(n / 3, 1)
      val mjd = 60800.0 + i.toDouble / 50.0
      val nPrv = rng.nextInt(4)
      Row(
        5000000L + i,
        src(7000000L + i, mjd),
        (1 to nPrv).map(h => src(7000000L + i - h * 1000L, mjd - h * 0.07)),
        (1 to rng.nextInt(3)).map(h =>
          forced(8000000L + i - h * 1000L, mjd - h * 0.05)),
        Row(objId, rng.nextDouble() * 360.0,
          math.toDegrees(math.asin(rng.nextDouble() * 2 - 1)),
          1 + nPrv))
    }
    spark.createDataFrame(rows.asJava, RubinSchema.alertSchema(version))
  }

  /** Deterministic ELAsTICC-shaped science batch. */
  def elasticcFixture(spark: SparkSession, n: Int, seed: Long = 909L): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    val rng = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      Row(
        3000000L + i,
        Row(
          4000000L + i,
          60500.0 + i.toDouble / 40.0,
          rng.nextDouble() * 360.0,
          math.toDegrees(math.asin(rng.nextDouble() * 2 - 1)),
          (rng.nextDouble() * 1000).toFloat,
          (5 + rng.nextDouble() * 50).toFloat,
          "ugrizy".charAt(rng.nextInt(6)).toString),
        1700000000000L + i * 1000L,
        rng.nextDouble(),
        rng.nextDouble(),
        rng.nextDouble())
    }
    spark.createDataFrame(rows.asJava, ElasticcSchema.alertSchema())
  }
}
