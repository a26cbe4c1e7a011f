package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, RangeJoin, Sessionize}

/** Planted-fixture semantics + scale-shape assertions for the temporal
  * operators (as-of join, banded range join, sessionization).
  */
class TemporalSpec extends SparkTestBase {

  import spark.implicits._

  private val t = "t"

  test("as-of join picks the latest prior row, inclusively") {
    val left = Seq(
      (1L, 100L, 10L), // key 1: prior rows at 50, 100 -> picks 100 (inclusive)
      (1L, 99L, 11L), //  -> picks 50
      (1L, 49L, 12L), //  -> no prior, null
      (2L, 500L, 20L) //  key 2 has no right rows at all
    ).toDF("k", t, "lid")
    val right = Seq(
      (1L, 50L, 1000L),
      (1L, 100L, 1001L),
      (3L, 1L, 3000L) // key never queried
    ).toDF("k", t, "rid")

    val got = AsOfJoin
      .priorJoin(left, right, "k", t, Seq("rid"))
      .select("lid", "rid")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got === Map(10L -> 1001L, 11L -> 1000L, 12L -> -1L, 20L -> -1L))
  }

  test("nearest as-of: direction, tie-to-prior, tolerance, no-candidate") {
    import spark.implicits._
    val left = Seq(
      (1L, 100L, 10L), // prior at 90 (d=10) vs next at 150 (d=50) -> prior
      (1L, 140L, 11L), // prior at 90 (d=50) vs next at 150 (d=10) -> next
      (1L, 120L, 12L), // exact tie d=30/d=30 -> prior
      (1L, 90L, 13L),  // right exactly AT left time -> prior, delta 0
      (2L, 100L, 20L), // only candidate at 900: beyond tolerance -> none
      (3L, 100L, 30L)  // no right rows at all -> none
    ).toDF("k", t, "lid")
    val right = Seq(
      (1L, 90L, 1000L),
      (1L, 150L, 1001L),
      (2L, 900L, 2000L)
    ).toDF("k", t, "rid")
    val got = AsOfJoin
      .nearestJoin(left, right, "k", t, Seq("rid"), toleranceUs = 100L)
      .select("lid", "rid", "asof_delta_us", "asof_dir")
      .collect()
      .map(r => r.getLong(0) -> ((
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2),
        r.getString(3))))
      .toMap
    assert(got(10L) === ((1000L, -10L, "prior")))
    assert(got(11L) === ((1001L, 10L, "next")))
    assert(got(12L) === ((1000L, -30L, "prior")))
    assert(got(13L) === ((1000L, 0L, "prior")))
    assert(got(20L) === ((-1L, Long.MinValue, "none")))
    assert(got(30L) === ((-1L, Long.MinValue, "none")))
  }

  test("nearest as-of: seeded randomized brute-force parity") {
    import spark.implicits._
    for (seed <- Seq(7, 23, 91)) {
      val rng = new scala.util.Random(seed)
      val left = (0 until 120).map(i =>
        (rng.nextInt(5).toLong, rng.nextInt(200).toLong, i.toLong))
      val right = (0 until 80).map(i =>
        (rng.nextInt(5).toLong, rng.nextInt(200).toLong, 1000L + i))
        .groupBy(r => (r._1, r._2)).map(_._2.minBy(_._3)).toSeq
      val tol = 30L
      val got = AsOfJoin.nearestJoin(
        left.toDF("k", t, "lid"), right.toDF("k", t, "rid"),
        "k", t, Seq("rid"), tol)
        .select("lid", "rid", "asof_delta_us")
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2)))))
        .toMap
      left.foreach { case (k, time, lid) =>
        val cand = right.filter(r => r._1 == k && math.abs(r._2 - time) <= tol)
        val expected = if (cand.isEmpty) None else {
          // min |delta|; ties to the PRIOR side (rt <= t); within a
          // side the dedup above makes (key, time) unique
          val best = cand.minBy(r =>
            (math.abs(r._2 - time), if (r._2 <= time) 0 else 1))
          Some((best._3, best._2 - time))
        }
        assert(got(lid) === expected,
          s"seed $seed lid $lid k $k t $time: got ${got(lid)}, want $expected")
      }
    }
  }

  test("FIFO allocation conserves amounts and matches a sequential fold") {
    import spark.implicits._
    // small planted ledger: supplies 50,30,40; demands 60,45,20
    val sup = Seq((1L, 1L, 101L, 50L), (1L, 2L, 102L, 30L),
      (1L, 3L, 103L, 40L)).toDF("user_id", t, "supply_id", "s_amt")
    val dem = Seq((1L, 4L, 201L, 60L), (1L, 5L, 202L, 45L),
      (1L, 6L, 203L, 20L)).toDF("user_id", t, "demand_id", "d_amt")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(t)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val s2 = sup.withColumn("cum_s", sum(col("s_amt")).over(w))
    val d2 = dem.withColumn("cum_d", sum(col("d_amt")).over(w))
    val alloc = s2.join(d2.drop(t), Seq("user_id"))
      .filter(col("cum_s") - col("s_amt") < col("cum_d") &&
        col("cum_d") - col("d_amt") < col("cum_s"))
      .select(col("supply_id"), col("demand_id"),
        (least(col("cum_s"), col("cum_d")) -
          greatest(col("cum_s") - col("s_amt"),
            col("cum_d") - col("d_amt"))).as("a"))
      .filter(col("a") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // the sequential FIFO fold produces exactly these lots
    assert(alloc === Map(
      (101L, 201L) -> 50L, (102L, 201L) -> 10L, // demand 60 = 50 + 10
      (102L, 202L) -> 20L, (103L, 202L) -> 25L, // demand 45 = 20 + 25
      (103L, 203L) -> 15L)) // demand 20 gets only the 15 left
    // conservation: fully-supplied demands receive exactly d_amt
    val byDemand = alloc.groupBy(_._1._2).view.mapValues(_.values.sum)
    assert(byDemand(201L) === 60L && byDemand(202L) === 45L)
    assert(byDemand(203L) === 15L) // supply exhausted at 120 total
  }

  test("as-of join is a window over a union — no join operator at all") {
    val left = Seq((1L, 10L, 1L)).toDF("k", t, "lid")
    val right = Seq((1L, 5L, 2L)).toDF("k", t, "rid")
    val p = AsOfJoin.priorJoin(left, right, "k", t, Seq("rid"))
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Join"), s"as-of should not plan a join:\n$p")
    assert(p.contains("Window"), p)
  }

  test("band pairs: boundary-inclusive, bin-crossing, no double count") {
    // width 100: (a=95, b=105) crosses a bin boundary; (a=0, b=100) is
    // exactly ON the boundary (inclusive); (a=0, b=101) is outside.
    val e = Seq(
      (1L, 95L, 1L),
      (1L, 105L, 2L),
      (2L, 0L, 3L),
      (2L, 100L, 4L),
      (3L, 0L, 5L),
      (3L, 101L, 6L)
    ).toDF("k", t, "id")
    val got = RangeJoin.bandPairs(e, "k", t, "id", 100L)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (3L, 4L)))
  }

  test("band pairs: ties produce one unordered pair") {
    val e = Seq((1L, 7L, 1L), (1L, 7L, 2L)).toDF("k", t, "id")
    val got = RangeJoin.bandPairs(e, "k", t, "id", 100L)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("band join never plans a cartesian or nested-loop join") {
    val e = Seq((1L, 95L, 1L), (1L, 105L, 2L)).toDF("k", t, "id")
    val p = RangeJoin.bandPairs(e, "k", t, "id", 100L)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("sessionize: gap starts a new session, ties broken by id") {
    val e = Seq(
      // user 1: 3 events in one session, then a gap, then 1 more
      (1L, 0L, 1L), (1L, 10L, 2L), (1L, 20L, 3L), (1L, 1000L, 4L),
      // user 2: two events at the SAME time — tie-broken, same session
      (2L, 5L, 5L), (2L, 5L, 6L)
    ).toDF("u", t, "id")
    val got = Sessionize
      .withSessionId(e, "u", col(t), col("id"), gap = 100L)
      .select("id", "session_id")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L,
      5L -> 1L, 6L -> 1L))
  }

  test("KS statistic: bucketed ECDF variant tracks exact on a continuous metric") {
    import graft.queries.Temporal
    // continuous bimodal metric: group A shifted right of group B
    val rng = new scala.util.Random(77L)
    val rows = (0 until 4000).map { i =>
      val a = i % 2 == 0
      val v = (if (a) 3.0 else 0.0) + rng.nextGaussian()
      (v, a)
    }
    val df = rows.toDF("v", "isa")
    def d(res: org.apache.spark.sql.DataFrame): Double =
      res.collect()(0).getAs[Double]("ks_d")
    val exact = d(Temporal.ksStatistic(df, col("v"), col("isa"), !col("isa")))
    val bucketed = d(Temporal.ksStatistic(
      df, col("v"), col("isa"), !col("isa"), buckets = Some(256)))
    // strongly separated distributions: D near 1; bins only blur D by
    // at most the largest per-bin mass (~a few % at 256 bins)
    assert(exact > 0.8, s"fixture lost its separation: $exact")
    assert(math.abs(exact - bucketed) < 0.05,
      s"bucketed KS drifted: exact=$exact bucketed=$bucketed")
    // the scale contract: the window input is the BIN DOMAIN, not rows
    val counts = Temporal.ksStatistic(
      df, col("v"), col("isa"), !col("isa"), buckets = Some(256))
    assert(d(counts) === bucketed) // deterministic across invocations
    // degenerate range (all values equal) stays defined: D = 0
    val flat = (0 until 100).map(i => (5.0, i % 2 == 0)).toDF("v", "isa")
    assert(d(Temporal.ksStatistic(
      flat, col("v"), col("isa"), !col("isa"), buckets = Some(16))) === 0.0)
    // exact helper agrees with the registered q61 shape on l_quantity
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val viaHelper = d(Temporal.ksStatistic(
      li, col("l_quantity"),
      col("l_returnflag") === "A", col("l_returnflag") === "R"))
    val viaQuery = graft.SparkEntry.queries("q61_ks_test")(
      spark, "/root/testdata/sf0.001")
      .collect()(0).getAs[Double]("ks_d")
    assert(viaHelper === viaQuery)
  }

  test("KS exact cumsum is two-phase: no unpartitioned window over values") {
    import graft.queries.Temporal
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = (0 until 2000).map(i => (i * 0.37, i % 3 == 0))
      .toDF("v", "isa")
    val res = Temporal.ksStatistic(df, col("v"), col("isa"), !col("isa"))
    // the value-domain cumsum windows must be keyed by the range
    // stripe; the only unpartitioned window allowed is the P-row
    // stripe-offset pass (child carries pid/sa/sb, never v)
    res.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      .filter(_.partitionSpec.isEmpty)
      .foreach { w =>
        val cols = w.child.output.map(_.name)
        assert(!cols.contains("v"),
          s"value-domain window lost its stripe key: $cols")
      }
    // and the stripes change nothing: one-partition input agrees
    val one = Temporal.ksStatistic(
      df.coalesce(1), col("v"), col("isa"), !col("isa"))
    assert(res.collect()(0).getAs[Double]("ks_d") ==
      one.collect()(0).getAs[Double]("ks_d"))
    // NULL metric values sort before every number (nulls-first), i.e.
    // exactly like a value below the observed minimum — the striping
    // must not silently relocate them
    def d(r: org.apache.spark.sql.DataFrame): Double =
      r.collect()(0).getAs[Double]("ks_d")
    val withNulls = (0 until 500).map { i =>
      (if (i % 7 == 0) None else Some(i * 0.31), i % 3 == 0)
    }.toDF("v", "isa")
    val belowMin = withNulls
      .withColumn("v", coalesce(col("v"), lit(-1e9)))
    assert(
      d(Temporal.ksStatistic(withNulls, col("v"), col("isa"), !col("isa")))
        == d(Temporal.ksStatistic(belowMin, col("v"), col("isa"), !col("isa"))),
      "NULL values moved relative to the nulls-first contract")
  }

  test("KS binning sandwich holds on random data: D_binned <= D_exact <= D_binned + max bin mass") {
    import graft.queries.Temporal
    // sup over bin boundaries is a sup over a SUBSET of the value axis,
    // so binning can only lose: D_binned <= D_exact. And the exact
    // argmax sits inside some bin whose mass bounds the loss.
    for (seed <- Seq(1L, 42L, 2026L)) {
      val rng = new scala.util.Random(seed)
      val df = (0 until 2000).map { _ =>
        val a = rng.nextBoolean()
        (if (a) rng.nextGaussian() * (1 + rng.nextDouble())
         else rng.nextDouble() * 4 - 1, a)
      }.toDF("v", "isa")
      def d(b: Option[Int]): Double =
        Temporal.ksStatistic(df, col("v"), col("isa"), !col("isa"), b)
          .collect()(0).getAs[Double]("ks_d")
      val exact = d(None)
      val bins = 32
      val binned = d(Some(bins))
      assert(binned <= exact + 1e-12, s"seed=$seed: $binned > $exact")
      // max combined bin mass, computed with the same binning
      val r = df.agg(min(col("v")), max(col("v"))).collect()(0)
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      val masses = df
        .withColumn("bin",
          least(floor((col("v") - lo) / (hi - lo) * bins), lit(bins - 1)))
        .groupBy("bin")
        .agg(
          (count(when(col("isa"), 1)) /
            sum(count(when(col("isa"), 1))).over() +
            count(when(!col("isa"), 1)) /
              sum(count(when(!col("isa"), 1))).over()).as("m"))
        .agg(max(col("m"))).collect()(0).getDouble(0)
      assert(exact <= binned + masses + 1e-12,
        s"seed=$seed: exact=$exact binned=$binned maxMass=$masses")
    }
  }
}
