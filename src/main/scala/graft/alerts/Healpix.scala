package graft.alerts

/** HEALPix NESTED-scheme pixelization, pure Scala.
  *
  * Implemented from the published algorithm (Górski et al. 2005, ApJ
  * 622:759, §4 + appendix): equatorial/polar zone split on |z| = 2/3,
  * face + in-face (ix, iy) coordinates, bit-interleaved nested index.
  * Replaces the reference's healpy pandas UDFs (ref:
  * common/spark_utils.py:519-609) with JVM math that stays inside
  * whole-stage codegen via [[graft.functions.Ang2PixNest]].
  *
  * Supports nside as any power of two up to 2^29 (index fits a long).
  */
object Healpix {

  /** Spread the low 32 bits of v to even bit positions. */
  private def spreadBits(v: Int): Long = {
    var x = v.toLong & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Nested pixel index of (ra, dec) in degrees at the given nside. */
  def ang2pixNest(nside: Int, raDeg: Double, decDeg: Double): Long = {
    require(nside > 0 && (nside & (nside - 1)) == 0, s"nside must be 2^k: $nside")
    val z = math.sin(math.toRadians(decDeg)) // cos(colatitude)
    val phi = math.toRadians(((raDeg % 360.0) + 360.0) % 360.0)
    val tt = (2.0 * phi / math.Pi) % 4.0 // [0, 4)
    var face = 0
    var ix = 0L
    var iy = 0L
    if (math.abs(z) <= 2.0 / 3.0) {
      // equatorial zone: indices of the two edge lines crossing (z, phi)
      val temp1 = nside * (0.5 + tt)
      val temp2 = nside * z * 0.75
      val jp = (temp1 - temp2).toLong // ascending edge line
      val jm = (temp1 + temp2).toLong // descending edge line
      val ifp = jp / nside
      val ifm = jm / nside
      face =
        if (ifp == ifm) ((ifp & 3) + 4).toInt
        else if (ifp < ifm) (ifp & 3).toInt
        else ((ifm & 3) + 8).toInt
      ix = jm & (nside - 1)
      iy = nside - (jp & (nside - 1)) - 1
    } else {
      // polar caps
      val ntt = math.min(3, tt.toInt)
      val tp = tt - ntt
      val tmp = nside * math.sqrt(3.0 * (1.0 - math.abs(z)))
      val jp = math.min((tp * tmp).toLong, nside - 1L)
      val jm = math.min(((1.0 - tp) * tmp).toLong, nside - 1L)
      if (z >= 0) {
        face = ntt
        ix = nside - jm - 1
        iy = nside - jp - 1
      } else {
        face = ntt + 8
        ix = jp
        iy = jm
      }
    }
    face.toLong * nside.toLong * nside.toLong +
      (spreadBits(ix.toInt) | (spreadBits(iy.toInt) << 1))
  }
}
