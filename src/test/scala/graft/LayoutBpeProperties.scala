package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck law for the interval-stabbing depth used by the layout
  * audits.
  */
object LayoutBpeProperties extends Properties("layout-bpe") {

  // ---- overlapDepth: sweep line vs brute force ----

  private val intervalsGen = Gen.listOf(for {
    a <- Gen.chooseNum(0L, 50L)
    len <- Gen.chooseNum(0L, 20L)
  } yield (a, a + len))

  /** The sweep in RangeLayout.overlapDepth, reproduced on plain pairs
    * (the operator's own input is a DataFrame of file stats). */
  private def sweepDepth(iv: List[(Long, Long)]): Int = {
    val events = iv
      .flatMap { case (lo, hi) => Seq((BigDecimal(lo), 1), (BigDecimal(hi), -1)) }
      .sortBy { case (v, delta) => (v, -delta) }
    var depth = 0; var best = 0
    events.foreach { case (_, d) => depth += d; if (depth > best) best = depth }
    best
  }

  private def bruteDepth(iv: List[(Long, Long)]): Int =
    if (iv.isEmpty) 0
    else iv.flatMap { case (lo, hi) => Seq(lo, hi) }.distinct
      .map(p => iv.count { case (lo, hi) => lo <= p && p <= hi }).max

  property("sweepEqualsBruteForceStabbing") = forAll(intervalsGen) { iv =>
    sweepDepth(iv) == bruteDepth(iv)
  }
}
