package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.alerts.AlertSchema
import graft.avro.AvroFunctions
import graft.core.PlanAudit
import graft.jobs.Nightly
import graft.streaming.FilterRegistry

/** SURVEY §7.2 minimum end-to-end slice, chained for real:
  * Avro alert stream → raw lake → science lake → filtered fan-out —
  * three checkpointed streaming stages over real files.
  */
class NightlySpec extends SparkTestBase {

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("stream2raw → raw2science → distribute, end to end") {
    val alerts = AlertSchema.fixture(spark, 120)
    val schemaJson = AvroFunctions.avroSchemaJson(alerts.schema)

    // ---- stage 0: the "wire": avro-encoded alerts in a parquet dir
    //      standing in for the Kafka topic (S1 needs the connector jar;
    //      the decode path is identical) ----
    val wire = tmp("graft_wire_")
    alerts
      .select(AvroFunctions.toAvro(struct(alerts.columns.map(col): _*)).as("value"))
      .write.mode("overwrite").parquet(wire)

    // ---- stage 1: stream2raw ----
    val rawLake = tmp("graft_raw_")
    val q1 = Nightly.stream2raw(
      spark.readStream.schema("value binary").parquet(wire),
      schemaJson, rawLake, tmp("ck1_"), Trigger.AvailableNow())
    q1.awaitTermination(120000)

    val raw = spark.read.parquet(rawLake)
    assert(raw.count() === 120)
    assert(raw.columns.contains("brokerIngestTimestamp"))
    assert(raw.columns.toSet.intersect(Set("year", "month", "day")).size === 3)
    // hive layout on disk
    assert(new java.io.File(rawLake).listFiles().exists(_.getName.startsWith("year=")))

    // ---- stage 2: raw2science ----
    val sciLake = tmp("graft_sci_")
    val q2 = Nightly.raw2science(
      spark, rawLake, sciLake, tmp("ck2_"), Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val science = spark.read.parquet(sciLake)
    val expected = Nightly.enrich(raw).count()
    assert(science.count() === expected && expected > 0)
    // full reference-arity science output (ztf/science.py:201-436 shape)
    for (c <- graft.enrich.ScienceModules.outputColumns)
      assert(science.columns.contains(c), s"missing science column $c")

    // ---- stage 3: distribute into memory sinks ----
    FilterRegistry.register("nightly_transients",
      df => df("classification") === "transient_candidate")
    FilterRegistry.register("nightly_all", _ => lit(true))
    val queries = Nightly.distribute(
      spark, sciLake, Seq("nightly_transients", "nightly_all"),
      tmp("ck3_"), Trigger.AvailableNow()) { (filtered, name, ckpt) =>
      graft.streaming.Sinks.kafkaPayload(filtered)
        .writeStream.format("memory").queryName(s"topic_$name")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    queries.foreach(_.awaitTermination(120000))

    val all = spark.table("topic_nightly_all")
    assert(all.count() === science.count())
    assert(all.columns.toSeq === Seq("key", "value"))
    val transients = spark.table("topic_nightly_transients").count()
    assert(transients ===
      science.filter(col("classification") === "transient_candidate").count())

    // payload decodes back to the distribution frame — all three cutout
    // structs travel with the alert (ref: bin/ztf/distribute.py:89-95).
    // The reader schema comes from the message KEY, exactly as a
    // subscriber would obtain it (ref: common/distribution_utils.py:
    // 118-124) — the writer ran on the streaming (all-nullable) schema,
    // so reconstructing a reader schema from a batch re-read would
    // disagree on nullability.
    val sciSchemaJson = new String(
      all.select("key").head.getAs[Array[Byte]](0), "UTF-8")
    val decoded = all
      .select(AvroFunctions.fromAvro(col("value"), sciSchemaJson).as("d"))
      .select("d.*")
    assert(decoded.count() === science.count())
    assert(decoded.columns.contains("classification"))
    for (c <- Seq("cutoutScience", "cutoutTemplate", "cutoutDifference")) {
      assert(decoded.columns.contains(c), s"distribution dropped $c")
      val stamped = decoded.filter(col(s"$c.stampData").isNotNull).count()
      assert(stamped === science.count(), s"$c stampData lost in round trip")
    }
  }

  test("enrichment plan is narrow: no shuffle in the science stage") {
    val audit = PlanAudit.summarize(Nightly.enrich(AlertSchema.fixture(spark, 50)))
    assert(audit.shuffleExchanges === 0, s"science stage must not shuffle: $audit")
    assert(audit.broadcastExchanges === 0, s"science stage must not broadcast: $audit")
  }
}
