package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IntervalOverlap

/** Interval-overlap join: exact pair semantics on planted geometry
  * (touching endpoints are NOT overlaps under half-open intervals,
  * multi-bin spans meet once, in their first shared bin), the
  * brute-force join's multiplicity on duplicate, negative and empty
  * intervals, and the plan shape the operator exists for — an
  * equi-join on the bin key, never a nested loop over the inequality
  * predicate.
  */
class IntervalOverlapSpec extends SparkTestBase {

  private def bruteForce(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b,
      greatest(col("a_s"), col("b_s")) < least(col("a_e"), col("b_e")))

  /** Output rows with their multiplicity. */
  private def counts(df: DataFrame): Map[Seq[Long], Int] =
    df.select("a_id", "b_id", "a_s", "a_e", "b_s", "b_e").collect()
      .map(r => (0 until 6).map(r.getLong)).groupBy(identity)
      .view.mapValues(_.length).toMap

  test("planted geometry: exact pairs, half-open endpoints, dedupe") {
    import spark.implicits._
    // bins of width 10
    val a = Seq(
      (1L, 0L, 5L),    // inside bin 0
      (2L, 8L, 23L),   // spans bins 0-2 (multi-bin: one row per pair)
      (3L, 30L, 40L)   // touches b4 at 40 — half-open, NO overlap
    ).toDF("a_id", "a_s", "a_e")
    val b = Seq(
      (10L, 3L, 9L),   // overlaps a1 [3,5) and a2 [8,9)
      (20L, 15L, 22L), // overlaps a2 [15,22) — pair shares bins 1-2
      (30L, 25L, 30L), // gap — no overlap
      (40L, 40L, 50L)  // starts exactly at a3's end — no overlap
    ).toDF("b_id", "b_s", "b_e")
    val got = IntervalOverlap.pairs(a, b, binUs = 10L)
      .select("a_id", "b_id", "overlap_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === Set((1L, 10L, 2L), (2L, 10L, 1L), (2L, 20L, 7L)))
  }

  test("agrees with the brute-force inequality join") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // negative coordinates (truncating division rounds toward zero)
    // and empty intervals (e <= s, including descending bounds that
    // span several bins) next to ordinary ones
    def rows(n: Int, maxLen: Int) = (1 to n).map { i =>
      val s = rnd.nextInt(1000).toLong - 500
      val e = if (i % 10 == 0) s - rnd.nextInt(100) else s + 1 + rnd.nextInt(maxLen)
      (i.toLong, s, e)
    }
    val a = rows(200, 60).toDF("a_id", "a_s", "a_e")
    val b = rows(150, 40).toDF("b_id", "b_s", "b_e")
    val got = counts(IntervalOverlap.pairs(a, b, binUs = 32L))
    assert(got.nonEmpty && got === counts(bruteForce(a, b)))
  }

  test("duplicate input rows keep their output multiplicity") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // each side repeats its first 20 rows, so identical rows occur on
    // both sides; intervals span several 128-wide bins, so a pair can
    // share more than one bin
    val a = (1 to 300).map { i =>
      val s = rnd.nextInt(5000).toLong
      (i.toLong % 250, s, s + 1 + rnd.nextInt(300))
    }
    val b = (1 to 200).map { i =>
      val s = rnd.nextInt(5000).toLong
      (i.toLong % 150, s, s + 1 + rnd.nextInt(200))
    }
    val aDf = (a ++ a.take(20)).toDF("a_id", "a_s", "a_e")
    val bDf = (b ++ b.take(20)).toDF("b_id", "b_s", "b_e")
    val want = counts(bruteForce(aDf, bDf))
    assert(want.values.exists(_ > 1))
    assert(counts(IntervalOverlap.pairs(aDf, bDf, binUs = 128L)) === want)
  }

  test("plans an equi-join on the bin, never a nested loop") {
    val ev = graft.core.Tables.t(spark, sf, "events")
    val sess = ev.selectExpr("user_id as a_id", "ts as a_s",
      "ts + 1000000 as a_e")
    val inc = ev.selectExpr("event_id as b_id", "ts as b_s",
      "ts + 500000 as b_e")
    val plan = formattedPlan(IntervalOverlap.pairs(sess, inc, 3600000000L))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"inequality predicate leaked into the join:\n$plan")
  }
}
