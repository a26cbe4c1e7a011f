package graft

import org.apache.spark.sql.functions._

import graft.alerts.Healpix
import graft.functions.SpatialFunctions
import HealpixSpec.pix2angNest

/** HEALPix correctness by structural property — no healpy goldens are
  * available offline, so correctness rests on the scheme's defining
  * invariants, which a wrong implementation cannot satisfy:
  *  - indices in range, all 12 faces reachable;
  *  - the NESTED hierarchy: pix(2·nside) >> 2 == pix(nside) for every
  *    point (bit-interleaving property);
  *  - pix2ang ∘ ang2pix lands in the same pixel (round trip);
  *  - pixel centers of all pixels map back to themselves (bijection).
  */
class HealpixSpec extends SparkTestBase {

  private val samples: Seq[(Double, Double)] = {
    val rng = new scala.util.Random(3)
    Seq.fill(2000)((rng.nextDouble() * 360.0, rng.nextDouble() * 180.0 - 90.0)) ++
      Seq((0.0, 90.0), (0.0, -90.0), (0.0, 0.0), (180.0, 0.0), (359.99, 41.9),
        (90.0, 66.6), (45.0, -41.8), (0.0, 66.56), (315.0, -66.56))
  }

  test("indices in range and all faces reachable at nside=1") {
    val pix1 = samples.map { case (ra, dec) => Healpix.ang2pixNest(1, ra, dec) }
    assert(pix1.forall(p => p >= 0 && p < 12))
    assert(pix1.toSet.size === 12, "random sky must hit all 12 base faces")
    for (nside <- Seq(2, 64, 1024)) {
      val npix = 12L * nside * nside
      assert(samples.forall { case (ra, dec) =>
        val p = Healpix.ang2pixNest(nside, ra, dec); p >= 0 && p < npix
      })
    }
  }

  test("nested hierarchy: doubling nside appends two bits") {
    for ((ra, dec) <- samples; nside <- Seq(1, 2, 16, 256)) {
      val coarse = Healpix.ang2pixNest(nside, ra, dec)
      val fine = Healpix.ang2pixNest(nside * 2, ra, dec)
      assert(fine >> 2 === coarse,
        s"hierarchy broken at nside=$nside ra=$ra dec=$dec: $fine >> 2 != $coarse")
    }
  }

  test("round trip: pixel center maps back to the same pixel") {
    for (nside <- Seq(1, 8, 256); (ra, dec) <- samples.take(500)) {
      val p = Healpix.ang2pixNest(nside, ra, dec)
      val (cra, cdec) = pix2angNest(nside, p)
      assert(Healpix.ang2pixNest(nside, cra, cdec) === p,
        s"round trip broke: nside=$nside pix=$p center=($cra,$cdec)")
    }
  }

  test("pix2ang is a left inverse over every pixel at nside=8") {
    val nside = 8
    for (p <- 0L until 12L * nside * nside) {
      val (ra, dec) = pix2angNest(nside, p)
      assert(Healpix.ang2pixNest(nside, ra, dec) === p, s"pixel $p")
    }
  }

  test("the Catalyst expression matches the Scala function and codegens") {
    import spark.implicits._
    val df = samples.take(200).toDF("ra", "dec")
    val got = df
      .select(col("ra"), col("dec"),
        SpatialFunctions.ang2pix(col("ra"), col("dec"), 256).as("pix"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) === Healpix.ang2pixNest(256, r.getDouble(0), r.getDouble(1)))
    }
    // stays inside a codegen stage (no UDF/BatchEvalPython-style break)
    val plan = df
      .select(SpatialFunctions.ang2pix(col("ra"), col("dec"), 256))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("BatchEval"), plan)
  }

  test("multi-resolution pixel array") {
    import spark.implicits._
    val row = Seq((10.0, 20.0)).toDF("ra", "dec")
      .select(SpatialFunctions.ang2pixMulti(col("ra"), col("dec"), Seq(64, 128, 256)))
      .collect()(0).getSeq[Long](0)
    assert(row === Seq(64, 128, 256).map(n => Healpix.ang2pixNest(n, 10.0, 20.0)))
  }
}

object HealpixSpec {

  /** Compress even bit positions of v into the low bits. */
  private def compressBits(v: Long): Int = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1)) & 0x3333333333333333L
    x = (x | (x >> 2)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x >> 4)) & 0x00ff00ff00ff00ffL
    x = (x | (x >> 8)) & 0x0000ffff0000ffffL
    x = (x | (x >> 16)) & 0x00000000ffffffffL
    x.toInt
  }

  // ring index of the southernmost corner of each face, in nside units
  private val jrll = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4)
  // phi index offset of each face, in π/(4·nr) units
  private val jpll = Array(1, 3, 5, 7, 0, 2, 4, 6, 1, 3, 5, 7)

  /** Center (ra, dec) in degrees of a nested pixel — the inverse of
    * `Healpix.ang2pixNest` (Górski et al. 2005), the round-trip oracle
    * of this spec and GraftProperties.
    */
  def pix2angNest(nside: Int, pix: Long): (Double, Double) = {
    val npface = nside.toLong * nside.toLong
    val face = (pix / npface).toInt
    val within = pix % npface
    val ix = compressBits(within)
    val iy = compressBits(within >> 1)
    val jr = jrll(face).toLong * nside - ix - iy - 1 // ring index
    var z = 0.0
    var kshift = 0L
    var nr = 0L
    if (jr < nside) { // north polar cap
      nr = jr
      z = 1.0 - (nr * nr).toDouble / (3.0 * nside * nside)
      kshift = 0
    } else if (jr > 3L * nside) { // south polar cap
      nr = 4L * nside - jr
      z = -1.0 + (nr * nr).toDouble / (3.0 * nside * nside)
      kshift = 0
    } else { // equatorial belt
      nr = nside
      z = (2L * nside - jr) * 2.0 / (3.0 * nside)
      kshift = (jr - nside) & 1
    }
    var jp = (jpll(face) * nr + ix - iy + 1 + kshift) / 2
    if (jp > 4 * nr) jp -= 4 * nr
    if (jp < 1) jp += 4 * nr
    val phi = (jp - (kshift + 1) * 0.5) * (math.Pi / (2.0 * nr))
    val ra = math.toDegrees(phi)
    val dec = math.toDegrees(math.asin(z))
    (ra, dec)
  }
}
