package graft.alerts

import org.apache.spark.sql.types._

/** The second survey: Rubin/LSST-shaped alerts (§1.3 multi-survey
  * claim). Field names follow the published diaSource/diaObject alert
  * packet vocabulary the reference keys on (ref:
  * rubin/hbase_utils.py:285-293, 858-874: `diaSource.diaSourceId`,
  * `diaObject.diaObjectId`, `diaSource.midpointMjdTai`, `prvDiaSources`,
  * `prvDiaForcedSources`) — a pinned minimal subset, versioned so the
  * registry's probe/dispatch/upgrade path is exercised across a real
  * schema evolution (v2 adds `reliability`, the ML real-bogus score
  * added to diaSource in later schema majors).
  */
object RubinSchema {

  private def diaSourceFields(withReliability: Boolean): StructType = {
    val base = Seq(
      StructField("diaSourceId", LongType),
      StructField("midpointMjdTai", DoubleType),
      StructField("ra", DoubleType),
      StructField("dec", DoubleType),
      StructField("psfFlux", FloatType),
      StructField("psfFluxErr", FloatType),
      StructField("band", StringType))
    StructType(
      if (withReliability) base :+ StructField("reliability", FloatType)
      else base)
  }

  private def diaObjectType: StructType = StructType(Seq(
    StructField("diaObjectId", LongType),
    StructField("ra", DoubleType),
    StructField("dec", DoubleType),
    StructField("nDiaSources", IntegerType)))

  /** Numeric (major, minor) version order: "10.0" > "7.1", which the
    * lexicographic string compare gets backwards.
    */
  private[graft] def versionAtLeast(version: String, floor: String): Boolean = {
    def parts(v: String): Array[Int] =
      v.split("\\.").map(p => p.takeWhile(_.isDigit)).map(p =>
        if (p.isEmpty) 0 else p.toInt).padTo(2, 0)
    val (a, b) = (parts(version), parts(floor))
    a(0) > b(0) || (a(0) == b(0) && a(1) >= b(1))
  }

  /** Alert packet schema, versions "7.0" (no reliability) / "7.1"+. */
  def alertSchema(version: String): StructType = {
    val withRel = versionAtLeast(version, "7.1")
    StructType(Seq(
      StructField("alertId", LongType),
      StructField("diaSource", diaSourceFields(withRel)),
      StructField("prvDiaSources", ArrayType(diaSourceFields(withRel))),
      StructField("prvDiaForcedSources", ArrayType(StructType(Seq(
        StructField("diaForcedSourceId", LongType),
        StructField("midpointMjdTai", DoubleType),
        StructField("psfFlux", FloatType),
        StructField("psfFluxErr", FloatType))))),
      StructField("diaObject", diaObjectType)))
  }
}
