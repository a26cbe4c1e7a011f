package graft.avro

import scala.collection.JavaConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.StructType

/** S4/K5: Avro container-file scan and write without spark-avro.
  *
  * Distributed: one container file per partition on write; one Spark
  * task per file on read. The reference uses the Avro file surface for
  * schema extraction and golden test data (ref: common/spark_utils.py:
  * 449-487, bin/ztf/generate_test_data.py:140-142) — modest volumes,
  * but the implementation still streams through executors, never the
  * driver.
  */
object AvroFiles {

  /** The StructType of an Avro container file, or of the first one
    * under a directory (the reference's actual use of S4: schema
    * probing).
    */
  def readSchema(spark: SparkSession, path: String): StructType =
    schemaOf(spark, avroFiles(spark, path).head)

  private def schemaOf(spark: SparkSession, file: Path): StructType = {
    val in = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .open(file)
    try {
      val stream = new DataFileStream[GenericRecord](
        in, new GenericDatumReader[GenericRecord]())
      val schema = stream.getSchema
      stream.close()
      AvroSchemaConverter.toSql(schema).asInstanceOf[StructType]
    } finally in.close()
  }

  /** `path` itself if it is a file, else its `.avro` files by name. */
  private def avroFiles(spark: SparkSession, path: String): Seq[Path] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(root).isFile) Seq(root)
      else fs.listStatus(root).map(_.getPath)
        .filter(_.getName.endsWith(".avro")).sortBy(_.getName).toSeq
    require(files.nonEmpty, s"no .avro files under $path")
    files
  }

  /** Write `df` as `part-NNNNN.avro` container files under `dir`. */
  def write(df: DataFrame, dir: String): Unit = {
    val sparkSchema = df.schema
    val avroJson = AvroSchemaConverter.toAvro(sparkSchema).toString
    val internal = df.queryExecution.toRdd
    internal.mapPartitionsWithIndex { (idx, rows) =>
      val avroSchema = new Schema.Parser().parse(avroJson)
      val conf = new Configuration()
      val out = new Path(dir, f"part-$idx%05d.avro")
      val fs = out.getFileSystem(conf)
      val writer = new DataFileWriter[Any](new GenericDatumWriter[Any](avroSchema))
      val os = fs.create(out, true)
      writer.create(avroSchema, os)
      var n = 0L
      rows.foreach { row =>
        writer.append(AvroCodec.catalystToAvro(row, sparkSchema, avroSchema))
        n += 1
      }
      writer.close()
      Iterator.single(n)
    }.count() // materialize the write
    ()
  }

  /** Read all container files under `dir` (or a single file) into a
    * DataFrame — one task per file, decoded straight to Catalyst rows.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = avroFiles(spark, path)
    val sparkSchema = schemaOf(spark, files.head)
    val rdd = spark.sparkContext
      .parallelize(files.map(_.toString), files.size)
      .flatMap { f =>
        val p = new Path(f)
        val in = p.getFileSystem(new Configuration()).open(p)
        val stream = new DataFileStream[GenericRecord](
          in, new GenericDatumReader[GenericRecord]())
        val out = stream.iterator.asScala
          .map(AvroCodec.avroToCatalyst(_, sparkSchema).asInstanceOf[InternalRow])
          .toVector // files are bounded; drain before closing
        stream.close()
        out
      }
    shims.createDataFrame(spark, rdd, sparkSchema)
  }
}
