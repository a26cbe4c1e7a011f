package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.alerts.AlertSchema
import graft.avro.{AvroFiles, AvroFunctions, AvroSchemaConverter}

/** E1-E4 round trips over the full nested alert shape: struct → binary →
  * struct must be lossless; schema conversion must invert; container
  * files must survive a distributed write/read cycle.
  */
class AvroSpec extends SparkTestBase {

  private lazy val alerts = AlertSchema.fixture(spark, 60)

  /** Deterministic row rendering: binary → hex (raw byte arrays print
    * by JVM identity, which would make equal data compare unequal).
    */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    Seq("cutoutScience", "cutoutTemplate", "cutoutDifference")
      .foldLeft(df)((d, c) =>
        d.withColumn(c,
          struct(col(s"$c.fileName"), hex(col(s"$c.stampData")).as("stampHex"))))
      .orderBy("candid").collect().map(_.toString).toSeq

  /** All-nullable view of a schema (Avro unions erase non-nullability). */
  private def nullable(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(k, nullable(v), valueContainsNull = true)
    case other => other
  }

  test("schema conversion round-trips the alert schema") {
    val avro = AvroSchemaConverter.toAvro(AlertSchema.alertSchema)
    val back = AvroSchemaConverter.toSql(avro).asInstanceOf[StructType]
    assert(back === AlertSchema.alertSchema)
  }

  test("avroSchemaJson is parseable and names the record") {
    val json = AvroFunctions.avroSchemaJson(AlertSchema.alertSchema, "alert")
    val parsed = new org.apache.avro.Schema.Parser().parse(json)
    assert(parsed.getName === "alert")
    assert(parsed.getField("objectId") != null)
  }

  test("to_avro → from_avro round-trips the full nested alert") {
    val schemaJson = AvroFunctions.avroSchemaJson(AlertSchema.alertSchema)
    val encoded = alerts.select(
      AvroFunctions.toAvro(struct(alerts.columns.map(col): _*)).as("value"))
    assert(encoded.schema.head.dataType === BinaryType)
    val decoded = encoded
      .select(AvroFunctions.fromAvro(col("value"), schemaJson).as("d"))
      .select("d.*")
    assert(nullable(decoded.schema) === nullable(alerts.schema))
    assert(canon(decoded) === canon(alerts))
  }

  test("framed decode skips wire-format headers (E3)") {
    import spark.implicits._
    val schemaJson = AvroFunctions.avroSchemaJson(
      StructType(Seq(StructField("x", LongType, nullable = false))))
    val framed = Seq(Tuple1(7L)).toDF("x")
      .select(AvroFunctions.toAvro(struct(col("x"))).as("body"))
      // Confluent framing: magic 0 + 4-byte schema id
      .select(concat(lit(Array[Byte](0, 0, 0, 0, 42)), col("body")).as("value"))
    val out = framed
      .select(AvroFunctions.fromAvroFramed(col("value"), schemaJson, 5).as("d"))
      .select("d.x")
      .collect()(0).getLong(0)
    assert(out === 7L)
  }

  test("permissive decode quarantines corrupt payloads as NULL; strict throws") {
    import spark.implicits._
    // reader schema derived from the ACTUAL packed struct type — a
    // hand-declared nullability mismatch would silently misparse the
    // union-index prefix (writer/reader schema agreement is the E1
    // contract; resolution is E4's job)
    val packed = Seq(("ok-1", 1L), ("ok-2", 2L)).toDF("s", "n")
      .select(struct(col("s"), col("n")).as("r"))
    val json = AvroFunctions.avroSchemaJson(
      packed.schema("r").dataType.asInstanceOf[StructType])
    val good = packed.select(AvroFunctions.toAvro(col("r")).as("v"))
    // corrupt: a truncated body and pure garbage
    val corrupt = Seq(
      Array[Byte](0x10, 0x61), // claims an 8-char string, provides 1 byte
      Array[Byte](-1, -1, -1, -1, -1, -1)
    ).toDF("v")
    val mixed = good.unionByName(corrupt)
    val decoded = mixed
      .select(AvroFunctions.fromAvroPermissive(col("v"), json).as("d"))
      .collect()
    assert(decoded.count(_.isNullAt(0)) === 2, decoded.mkString(","))
    assert(decoded.filter(!_.isNullAt(0))
      .map(_.getStruct(0).getLong(1)).toSet === Set(1L, 2L))
    // strict mode must fail on the same input (the raw decoder error
    // surfaces directly in local eval, wrapped in SparkException on a
    // cluster — either way the query dies)
    intercept[Exception] {
      mixed.select(AvroFunctions.fromAvro(col("v"), json).as("d")).collect()
    }
  }

  test("nulls and empty arrays survive the round trip") {
    import spark.implicits._
    val st = StructType(Seq(
      StructField("s", StringType),
      StructField("arr", ArrayType(DoubleType)),
      StructField("m", MapType(StringType, LongType))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(null, Seq.empty[Double], Map("a" -> 1L)),
        org.apache.spark.sql.Row("x", null, null),
        org.apache.spark.sql.Row("y", Seq(1.5, 2.5), Map.empty[String, Long])),
      st)
    val json = AvroFunctions.avroSchemaJson(st)
    val back = df
      .select(AvroFunctions.toAvro(struct(col("s"), col("arr"), col("m"))).as("v"))
      .select(AvroFunctions.fromAvro(col("v"), json).as("d"))
      .select("d.*")
    assert(back.collect().map(_.toString).sorted ===
      df.collect().map(_.toString).sorted)
  }

  /** Rows whose maps have eight keys each: a decoder that pairs keys
    * and values out of order cannot return them unchanged. */
  private lazy val wideMaps = {
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("m", MapType(StringType, LongType))))
    val keys = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel")
    spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, keys.zipWithIndex
        .map { case (k, i) => k -> i.toLong }.toMap),
      org.apache.spark.sql.Row(2L, keys.take(3)
        .map(k => k -> k.length.toLong).toMap)), st)
  }

  private def maps(df: org.apache.spark.sql.DataFrame): Map[Long, Map[String, Long]] =
    df.collect().map(r => r.getLong(0) -> r.getMap[String, Long](1).toMap).toMap

  test("maps keep every key with its own value: to_avro → from_avro " +
      "and container files") {
    val json = AvroFunctions.avroSchemaJson(wideMaps.schema)
    val back = wideMaps
      .select(AvroFunctions.toAvro(struct(col("id"), col("m"))).as("v"))
      .select(AvroFunctions.fromAvro(col("v"), json).as("d"))
      .select("d.*")
    assert(maps(back) === maps(wideMaps))
    val dir = java.nio.file.Files.createTempDirectory("graft_avro_maps_").toString
    AvroFiles.write(wideMaps, dir)
    assert(maps(AvroFiles.read(spark, dir)) === maps(wideMaps))
  }

  test("container files: distributed write then read preserves data (S4/K5)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_avro_").toString
    val df = alerts.repartition(3)
    AvroFiles.write(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.length === 3, files.mkString(","))
    val schema = AvroFiles.readSchema(spark, dir)
    assert(nullable(schema) === nullable(alerts.schema))
    val back = AvroFiles.read(spark, dir)
    assert(back.rdd.getNumPartitions === 3)
    assert(canon(back) === canon(alerts))
  }
}
