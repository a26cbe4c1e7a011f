package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.types._

import graft.alerts.Healpix
import graft.avro.AvroSchemaConverter

/** ScalaCheck properties for the pure kernels (no Spark session):
  * HEALPix structural invariants over the whole sky and arbitrary
  * resolutions, and Avro schema conversion as a round trip over
  * generated nested schemas.
  */
object GraftProperties extends Properties("graft") {

  private val genRa = Gen.chooseNum(0.0, 359.9999)
  private val genDec = Gen.chooseNum(-89.9999, 89.9999)
  private val genNsideExp = Gen.chooseNum(0, 12) // nside 1..4096

  property("healpix.range") = forAll(genRa, genDec, genNsideExp) { (ra, dec, k) =>
    val nside = 1 << k
    val p = Healpix.ang2pixNest(nside, ra, dec)
    p >= 0 && p < 12L * nside * nside
  }

  property("healpix.hierarchy") = forAll(genRa, genDec, genNsideExp) { (ra, dec, k) =>
    val nside = 1 << k
    Healpix.ang2pixNest(nside * 2, ra, dec) >> 2 == Healpix.ang2pixNest(nside, ra, dec)
  }

  property("healpix.roundTrip") = forAll(genRa, genDec, genNsideExp) { (ra, dec, k) =>
    val nside = 1 << k
    val p = Healpix.ang2pixNest(nside, ra, dec)
    val (cra, cdec) = HealpixSpec.pix2angNest(nside, p)
    Healpix.ang2pixNest(nside, cra, cdec) == p
  }

  // q86's arithmetic (floor(x·127/amax + 0.5), scale = amax/127) over
  // adversarial magnitudes the parquet fixture can't produce: the code
  // always fits int8 and the reconstruction error stays within scale/2
  // (+1 ulp slack for the float→double rounding chain)
  private val genVecElem = Gen.chooseNum(-1e6f, 1e6f)
  property("quantize.int8Envelope") =
    forAll(Gen.nonEmptyListOf(genVecElem)) { xs =>
      val amax = xs.map(x => math.abs(x)).max.toDouble
      amax == 0.0 || {
        val scale = amax / 127.0
        xs.forall { x =>
          val q = math.floor(x.toDouble * (127.0 / amax) + 0.5)
          q >= -127 && q <= 127 &&
            math.abs(x.toDouble - q * scale) <= scale / 2 * 1.0000001
        }
      }
    }

  property("healpix.neighborhoodLocality") =
    forAll(genRa, Gen.chooseNum(-80.0, 80.0)) { (ra, dec) =>
      // a point and a tiny offset of it land in the same or an adjacent
      // pixel at a coarse resolution (pixel ≈ 7°, offset ≈ 0.001°)
      val nside = 8
      val p1 = Healpix.ang2pixNest(nside, ra, dec)
      val p2 = Healpix.ang2pixNest(nside, ra + 0.001, dec + 0.001)
      val (r1, d1) = HealpixSpec.pix2angNest(nside, p1)
      val (r2, d2) = HealpixSpec.pix2angNest(nside, p2)
      // centers of the two pixels are within two pixel diagonals
      val sep = {
        val toR = math.toRadians _
        val a = math.sin(toR(d2 - d1) / 2)
        val b = math.sin(toR(r2 - r1) / 2)
        val h = a * a + math.cos(toR(d1)) * math.cos(toR(d2)) * b * b
        math.toDegrees(2 * math.asin(math.min(1.0, math.sqrt(h))))
      }
      sep <= 2.5 * 58.6 / nside
    }

  // ---- Avro schema conversion round trip over generated schemas ----

  private val genPrimitive: Gen[DataType] = Gen.oneOf(
    BooleanType, IntegerType, LongType, FloatType, DoubleType,
    StringType, BinaryType, TimestampType, DateType)

  private def genDataType(depth: Int): Gen[DataType] =
    if (depth <= 0) genPrimitive
    else Gen.frequency(
      5 -> genPrimitive,
      1 -> Gen.lzy(genDataType(depth - 1).map(e => ArrayType(e, containsNull = true))),
      1 -> Gen.lzy(genDataType(depth - 1)
        .map(v => MapType(StringType, v, valueContainsNull = true))),
      1 -> Gen.lzy(genStruct(depth - 1)))

  private def genStruct(depth: Int): Gen[StructType] =
    for {
      n <- Gen.chooseNum(1, 5)
      fields <- Gen.listOfN(n, for {
        dt <- genDataType(depth)
        nullable <- Gen.oneOf(true, false)
      } yield (dt, nullable))
    } yield StructType(fields.zipWithIndex.map { case ((dt, nl), i) =>
      StructField(s"f$i", dt, nl)
    })

  /** Avro erases nested non-nullability only where we declare it; our
    * converter round-trips nullability exactly, so equality is strict.
    */
  property("avroSchema.roundTrip") = forAll(genStruct(3)) { st =>
    val avro = AvroSchemaConverter.toAvro(st)
    val back = AvroSchemaConverter.toSql(avro)
    Prop(back == st) :| s"got $back\nwant $st"
  }
}
