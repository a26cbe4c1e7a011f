package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** General interval-overlap join: all (a, b) pairs whose half-open
  * [s, e) intervals intersect — WITHOUT an inequality join.
  *
  * Each interval fans out to the fixed-width bins it touches
  * (`sequence(s div W, (e−1) div W)`), candidates come from a plain
  * equi-join on the bin, and the exact half-open predicate
  * `max(s_a, s_b) < min(e_a, e_b)` prunes same-bin non-overlaps.
  *
  * FIRST-SHARED-BIN EMISSION: the join also requires
  * `bin = max(s_a div W, s_b div W)`, so an overlapping pair that
  * shares several bins meets in exactly one of them. No `distinct` is
  * needed, and multiplicity is preserved: n identical input rows on one
  * side give n identical output rows, as the brute-force join does.
  * Truncating division is monotone for W > 0, so this holds for
  * negative coordinates too.
  *
  * EMPTY INTERVALS: a row with e ≤ s overlaps nothing. Its bin range is
  * clamped to the single bin `s div W`, and the exact predicate then
  * drops it. Unclamped, `sequence` would count DOWN through every bin
  * from `s div W` to `(e−1) div W`.
  *
  * SCALE CONTRACT: a naive overlap join is an inequality theta-join —
  * Spark plans it as a broadcast nested loop or cartesian, O(|A|·|B|).
  * Here shuffle volume is Σ interval_length/W + 1 skinny rows per
  * side, and the join is hash-partitioned by bin. Pick `binUs` near
  * the TYPICAL interval length: too small multiplies fan-out, too
  * large packs unrelated intervals into one bin (the q46 banded-range
  * trade, applied to two-sided intervals). Hot bins (a global outage
  * window touching everything) salt like any hot key.
  *
  * Cf. the reference's crossmatch join (`fink_broker` cone-search
  * joins): same pattern — discretize the continuous predicate to an
  * equi-key, verify exactly after.
  */
object IntervalOverlap {

  /** `a`: (a_id, a_s, a_e) long µs columns; `b`: (b_id, b_s, b_e).
    * Returns (a_id, b_id, a_s, a_e, b_s, b_e, overlap_us > 0). */
  def pairs(a: DataFrame, b: DataFrame, binUs: Long): DataFrame = {
    def bins(s: String, e: String) = {
      val first = expr(s"$s div $binUs")
      explode(sequence(first, greatest(first, expr(s"($e - 1) div $binUs"))))
        .as("bin")
    }
    val av = a.select(col("a_id"), col("a_s"), col("a_e"), bins("a_s", "a_e"))
    val bv = b.select(col("b_id"), col("b_s"), col("b_e"), bins("b_s", "b_e"))
    av.join(bv, av("bin") === bv("bin") &&
        av("bin") === greatest(expr(s"a_s div $binUs"), expr(s"b_s div $binUs")))
      .select("a_id", "b_id", "a_s", "a_e", "b_s", "b_e")
      .withColumn("overlap_us",
        least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
      .filter(col("overlap_us") > 0)
  }
}
