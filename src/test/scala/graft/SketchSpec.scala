package graft

import org.apache.spark.sql.functions._

import graft.core.Tables.t

/** Approximate-sketch error bounds vs exact answers. */
class SketchSpec extends SparkTestBase {

  test("q41 sketches stay within their error bounds vs exact") {
    val r = SparkEntry.queries("q41_sketches")(spark, sf).collect()(0)
    val exact = t(spark, sf, "lineitem").agg(
      countDistinct(col("l_partkey")).as("p"),
      countDistinct(col("l_suppkey")).as("s"),
      expr("percentile(l_extendedprice, 0.5)").as("m")).collect()(0)
    val (ap, as_, es) = (r.getLong(0), r.getLong(1), exact.getLong(1))
    assert(math.abs(ap - exact.getLong(0)).toDouble / exact.getLong(0) < 0.1,
      s"approx distinct parts off: $ap vs ${exact.getLong(0)}")
    assert(math.abs(as_ - es).toDouble / es < 0.1)
    val medianRel = math.abs(r.getDouble(2) - exact.getDouble(2)) /
      exact.getDouble(2)
    assert(medianRel < 0.05, s"approx median off by $medianRel")
  }

  test("Misra-Gries through Spark: bound holds, hitters match q137 truth") {
    import graft.functions.MisraGries
    // shuffle-heavy path: repartition so reduce/merge genuinely run
    // across partitions before the final merge
    val summary = t(spark, sf, "events")
      .select(col("user_id").cast("string").as("u"))
      .repartition(7)
      .agg(MisraGries.heavyHitters(col("u"), 20).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e._1").as("u"), col("e._2").as("lb"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary.size <= 20)
    val exact = t(spark, sf, "events")
      .groupBy(col("user_id").cast("string").as("u")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val slack = n / 21
    // reported counts are lower bounds within N/(k+1)
    summary.foreach { case (u, lb) =>
      assert(lb <= exact(u) && exact(u) - lb <= slack,
        s"user $u: lower bound $lb vs exact ${exact(u)}, slack $slack")
    }
    // every key above the guarantee threshold survives
    exact.filter(_._2 > slack).keys
      .foreach(u => assert(summary.contains(u), s"heavy $u evicted"))
  }
}
