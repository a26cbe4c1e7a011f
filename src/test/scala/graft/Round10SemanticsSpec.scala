package graft

/** Planted-structure semantics for the round-10 second-half queries —
  * the oracle hash says Spark == DuckDB; these say both == the
  * intended algorithm, via properties the synthesis guarantees.
  */
class Round10SemanticsSpec extends SparkTestBase {

  private def run(q: String) =
    SparkEntry.queries(q)(spark, SharedSpark.Sf001)

  test("q211: precedence — every case-mangled record resolves by rule 1") {
    // (dirty_id div 6) % 3 == 0 rows are upper-cased exact copies:
    // rules 2 and 3 also fire on them, but lowest-rule-wins must
    // report rule 1
    val rows = run("q211_entity_resolution")
      .select("dirty_id", "rule").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val caseMangled = rows.filter(r => (r._1 / 6) % 3 == 0)
    assert(caseMangled.nonEmpty)
    assert(caseMangled.forall(_._2 == 1L),
      s"case-mangled rows must win at rule 1: ${caseMangled.take(5).toSeq}")
    // reorder class can never match rules 1/2 unless the reorder is
    // an identity — so anything it reports is rule 3 or a legitimate
    // earlier-rule identity case; assert rule 3 dominates
    val reorders = rows.filter(r => (r._1 / 6) % 3 == 2)
    assert(reorders.count(_._2 == 3L) > reorders.length / 2)
  }

  test("q232: detector coverage matches dedup theory on planted kinds") {
    val m = run("q232_dedup_coverage").collect()
      .map(r => r.getAs[String]("kind") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("caught_exact"),
          r.getAs[Long]("caught_tsort"), r.getAs[Long]("caught_simhash3")))
      .toMap
    // exact copies: every detector catches every pair
    val (nE, eE, tE, sE) = m("exact_copy")
    assert(eE == nE && tE == nE && sE == nE)
    // reorders: token-sort and simhash catch ALL (token multiset is
    // unchanged); exact md5 misses any non-identity reorder
    val (nR, eR, tR, sR) = m("reorder")
    assert(tR == nR && sR == nR)
    assert(eR < nR, "exact fp should miss most reorders")
    // char drops: exact misses all non-identity drops; simhash (one
    // token perturbed) catches more than token-sort (which needs the
    // whole sorted token string to match)
    val (nC, eC, tC, sC) = m("char_drop")
    assert(eC < nC && sC >= tC)
  }

  test("q220: survival curve is monotone and censoring-consistent") {
    val rows = run("q220_conversion_survival").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_signups"),
        r.getAs[Long]("n_converted_by_k"), r.getAs[Long]("n_pending")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L to 13L).toSeq)
    // same signup population at every horizon; pending = complement
    assert(rows.map(_._2).distinct.length == 1)
    assert(rows.forall { case (_, n, c, p) => c + p == n })
    // converted-by-k never decreases with k
    assert(rows.map(_._3).sliding(2).forall {
      case Array(a, b) => b >= a
      case _ => true
    })
  }

  test("q213: reported gaps exactly reconstruct the planted deletions") {
    // ids removed are event_id % 97 == 0 — the union of reported
    // [gap_start, gap_end] ranges must be exactly those ids (within
    // the observed id range, excluding domain edges)
    val gaps = run("q213_id_gap_ranges").collect()
      .flatMap(r => r.getAs[Long]("gap_start") to r.getAs[Long]("gap_end"))
      .toSet
    val all = graft.core.Tables.t(spark, SharedSpark.Sf001, "events")
      .select("event_id").collect().map(_.getLong(0)).toSet
    // recompute at the same SF the spec reads
    val tiny = SparkEntry.queries("q213_id_gap_ranges")(
      spark, SharedSpark.Sf0001).collect()
      .flatMap(r => r.getAs[Long]("gap_start") to r.getAs[Long]("gap_end"))
      .toSet
    val ids0 = graft.core.Tables.t(spark, SharedSpark.Sf0001, "events")
      .select("event_id").collect().map(_.getLong(0))
      .filter(_ % 97 != 0).toSet
    val expected = (ids0.min to ids0.max).toSet -- ids0
    assert(tiny == expected, s"gap union mismatch: ${
      (tiny diff expected).take(5)} / ${(expected diff tiny).take(5)}")
    // sf0.01: every reported gap id is one of the planted deletions
    assert(gaps.nonEmpty && gaps.forall(_ % 97 == 0))
    assert(all.intersect(gaps).forall(_ % 97 == 0))
  }

  test("q198: allocations reconcile exactly to each order total") {
    val ok = SparkEntry.queries("q198_prorate_allocation")(
        spark, SharedSpark.Sf0001)
      .groupBy("l_orderkey")
      .agg(org.apache.spark.sql.functions.sum("alloc_cents").as("s"))
    val orders = graft.core.Tables.t(spark, SharedSpark.Sf0001, "orders")
      .selectExpr("o_orderkey as l_orderkey",
        "cast(round(o_totalprice * 100) as long) as tot")
    val bad = ok.join(orders, Seq("l_orderkey"))
      .filter(org.apache.spark.sql.functions.col("s") =!=
        org.apache.spark.sql.functions.col("tot"))
      .count()
    assert(bad == 0L, s"$bad orders failed exact reconciliation")
  }

  test("q261: prefix-window closed form == the sequential clamped fold") {
    // the parallel form b_t = S_t − least(0, runmin(S_t)) must equal a
    // literal per-user b_t = max(b_{t-1} + δ_t, 0) loop, row for row
    val deltas = graft.core.Tables
      .t(spark, SharedSpark.Sf0001, "events")
      .selectExpr("user_id", "ts", "event_id",
        "cast(round(value * 100) as long) - 5000 as delta")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1)
      .map { case (u, rows) =>
        val ds = rows.map(_._2).sortBy(x => (x._1, x._2)).map(_._3)
        val folded = ds.scanLeft(0L)((b, x) => math.max(b + x, 0L)).tail
        u -> (ds.length.toLong, folded.max, folded.last,
          ds.scanLeft(0L)(_ + _).tail.min)
      }
    val got = SparkEntry.queries("q261_clamped_balance")(
        spark, SharedSpark.Sf0001).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_tx"), r.getAs[Long]("max_bal"),
          r.getAs[Long]("final_bal"), r.getAs[Long]("min_pref")))
      .toMap
    assert(got.keySet == deltas.keySet)
    for ((u, exp) <- deltas)
      assert(got(u) == exp, s"user $u: got ${got(u)}, fold says $exp")
  }

  test("q267: motif codes are base-4 3-grams; census covers every window") {
    val rows = run("q267_quartile_motifs").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("motif"),
        r.getAs[Long]("n")))
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._2 >= 0L && r._2 <= 63L))
    // per type, Σn over motifs == n_days − 2 (every full 3-window
    // counted exactly once)
    val perType = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    val days = graft.core.Tables.t(spark, SharedSpark.Sf001, "events")
      .selectExpr("event_type", "ts div 86400000000 as day")
      .distinct().groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((tpe, tot) <- perType)
      assert(tot == days(tpe) - 2, s"$tpe: $tot vs ${days(tpe)} days")
  }

  test("q270: Wilson LB penalizes small n — 1/1 loses to 80/100") {
    // the ranking property the operator exists for, evaluated through
    // the very expression the query uses
    import spark.implicits._
    val lb = Seq((1L, 1L), (80L, 100L)).toDF("k", "n").selectExpr(
      """(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) + 3.8416 / (2.0 * CAST(n AS DOUBLE))
        - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
            * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
            + 3.8416 / (4.0 * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)))
        / (1.0 + 3.8416 / CAST(n AS DOUBLE)) AS lb""")
      .collect().map(_.getDouble(0))
    assert(lb(0) < lb(1), s"1/1 got ${lb(0)}, 80/100 got ${lb(1)}")
    // and the registered query's outputs are genuine lower bounds
    val q270 = run("q270_wilson_ranking")
    val rows = q270.collect()
    assert(rows.nonEmpty)
    val plan = q270.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"q270 lost its combinable aggregate:\n$plan")
    for (r <- rows) {
      val (n, k, w) = (r.getAs[Long]("n"), r.getAs[Long]("k"),
        r.getAs[Double]("wilson_lb"))
      assert(w >= 0.0 && w <= k.toDouble / n)
    }
  }

  test("q274: Shapley satisfies efficiency and null-player axioms") {
    val q274 = run("q274_shapley_attribution")
    val phi = q274.collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("phi_x24"))
      .toMap
    assert(phi.keySet ==
      Set("click", "error", "signup", "view"), s"channels: ${phi.keySet}")
    // efficiency: Σφ·24 == 24·(v(full) − v(∅)); v(full) counts every
    // user (all masks ⊆ 1111), v(∅) counts users with NO channel
    val ev = graft.core.Tables.t(spark, SharedSpark.Sf001, "events")
    val nUsers = ev.select("user_id").distinct().count()
    val nNoChannel = nUsers - ev
      .filter(org.apache.spark.sql.functions.col("event_type") =!=
        "purchase")
      .select("user_id").distinct().count()
    assert(phi.values.sum == 24L * (nUsers - nNoChannel),
      s"efficiency axiom: ${phi.values.sum} != 24*(${nUsers}-$nNoChannel)")
    // monotonicity: every channel's credit is non-negative (v is
    // monotone in S by construction: more channels ⊇ more masks)
    assert(phi.values.forall(_ >= 0L))
    // the 16-row coalition lattice rides broadcasts: a sort-merge join
    // in the final plan would shuffle it
    val plan = q274.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("SortMergeJoin"), s"q274 shuffled a 16-row lattice:\n$plan")
  }

  test("q276: W1 dominates the mean gap and vanishes on identity") {
    val r = run("q276_wasserstein").head()
    val (na, nb) = (r.getAs[Long]("na"), r.getAs[Long]("nb"))
    val w1 = r.getAs[Double]("w1_cents")
    assert(na > 0 && nb > 0 && w1 >= 0.0)
    // W1(A,B) >= |E[A] − E[B]| for any 1-D distributions
    val m = graft.core.Tables.t(spark, SharedSpark.Sf001, "events")
      .filter(org.apache.spark.sql.functions.col("event_type")
        .isin("click", "view"))
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.avg(
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("value") * 100)).as("m"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(w1 >= math.abs(m("click") - m("view")) - 1e-6,
      s"W1=$w1 below mean gap ${math.abs(m("click") - m("view"))}")
    // identity: EMD of a distribution against itself is exactly zero
    import spark.implicits._
    val same = (1 to 200).map(i => ((i % 37).toLong, 1L, 1L))
      .toDF("v", "ca", "cb").groupBy("v")
      .agg(org.apache.spark.sql.functions.sum("ca").as("ca"),
        org.apache.spark.sql.functions.sum("cb").as("cb"))
      .withColumn("one", org.apache.spark.sql.functions.lit(1L))
    val sc = graft.operators.PrefixScan.runningSums(same, "v",
      Seq.empty, Seq("ca" -> "cum_a", "cb" -> "cum_b", "one" -> "rank"))
    val num = sc.selectExpr("rank", "v", "cum_a", "cum_b")
      .join(sc.selectExpr("rank - 1 as rank", "v as v_next"), Seq("rank"))
      .selectExpr("sum(abs(cum_a - cum_b) * (v_next - v)) as s")
      .head().getLong(0)
    assert(num == 0L, s"self-EMD must be zero, got $num")
  }

  test("q277: S equals brute-force Kendall on the daily aggregates") {
    val daily = graft.core.Tables.t(spark, SharedSpark.Sf001, "events")
      .selectExpr("event_type", "ts div 86400000000 as day",
        "cast(round(value * 100) as long) as c")
      .groupBy("event_type", "day")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("x"),
        org.apache.spark.sql.functions.sum("c").as("y"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    val brute = daily.toSeq.groupBy(_._1).view.mapValues { g =>
      val v = g.map(t => (t._2, t._3))
      (for (i <- v.indices; j <- i + 1 until v.length) yield
        math.signum(v(j)._1 - v(i)._1) * math.signum(v(j)._2 - v(i)._2)
      ).sum
    }.toMap
    val got = run("q277_kendall_tau").collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("s_stat"), r.getAs[Double]("tau_b"))).toMap
    assert(got.keySet == brute.keySet)
    for ((tpe, (s, tb)) <- got) {
      assert(s == brute(tpe), s"$tpe: S=$s, brute=${brute(tpe)}")
      assert(tb >= -1.0 && tb <= 1.0)
    }
  }

  test("q278: Chapman estimate bounded below by both window counts") {
    val rows = run("q278_capture_recapture").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (na, nb, m, tru, est) = (r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"), r.getAs[Long]("m"),
        r.getAs[Long]("n_true"), r.getAs[Long]("chapman_est"))
      assert(m <= math.min(na, nb), "overlap exceeds a window count")
      assert(tru >= math.max(na, nb), "ground truth below a window")
      // (nA+1)(nB+1)/(m+1) >= nA+1 whenever m <= nB (and symmetric)
      assert(est >= math.max(na, nb),
        s"Chapman $est below observed max(${na}, $nb)")
    }
  }

  test("q281: the funnel is monotone and every stage bites somewhere") {
    val rows = run("q281_filter_funnel").collect()
      .map(r => (r.getAs[Long]("stage"), r.getAs[Long]("n_surv"),
        r.getAs[Long]("tokens_surv"))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // cumulative prefixes can only shrink
    assert(rows.sliding(2).forall {
      case Array(a, b) => b._2 <= a._2 && b._3 <= a._3
      case _ => true
    })
    // at sf0.01 every filter removes at least one document — a flat
    // stage means the threshold stopped discriminating on this corpus
    assert(rows.sliding(2).forall {
      case Array(a, b) => b._2 < a._2
      case _ => true
    }, s"flat stage in ${rows.toSeq}")
  }

  test("q282: the ABC/XYZ grid partitions the part universe exactly") {
    val rows = run("q282_abc_xyz").collect()
      .map(r => (r.getAs[Long]("abc"), r.getAs[Long]("xyz")) ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("rev_cents"))).toMap
    assert(rows.keySet.forall { case (a, x) =>
      a >= 0 && a <= 2 && x >= 0 && x <= 2 })
    val nParts = graft.core.Tables.t(spark, SharedSpark.Sf001, "lineitem")
      .select("l_partkey").distinct().count()
    assert(rows.values.map(_._1).sum == nParts,
      "every shipped part lands in exactly one cell")
    // the revenue identity: A cells carry 78-80% of total by the
    // q271 construction (A stops at or before the 80% line)
    val tot = rows.values.map(_._2).sum
    val aRev = rows.collect { case ((0L, _), (_, r)) => r }.sum
    assert(aRev * 100 <= tot * 80 && aRev * 100 >= tot * 78,
      s"A-class revenue share off: $aRev of $tot")
    // both classification axes are populated
    assert(rows.keySet.map(_._1) == Set(0L, 1L, 2L))
    assert(rows.keySet.map(_._2) == Set(0L, 1L, 2L))
  }

  test("q284: V-counts equal a brute-force scan of each user's stream") {
    val ev = graft.core.Tables.t(spark, SharedSpark.Sf0001, "events")
      .selectExpr("user_id", "ts", "event_id",
        "cast(round(value * 100) as long) as c")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val brute = ev.toSeq.groupBy(_._1).view.mapValues { rows =>
      val cs = rows.sortBy(r => (r._2, r._3)).map(_._4)
      val syms = cs.sliding(2).collect {
        case Seq(a, b) => if (b > a) '+' else if (b < a) '-' else '='
      }.mkString
      ("--\\+\\+".r.findAllIn(syms).size.toLong, syms.count(_ == '+').toLong)
    }.toMap
    val got = SparkEntry.queries("q284_pattern_vshape")(
        spark, SharedSpark.Sf0001).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_vshape"), r.getAs[Long]("n_up"))).toMap
    assert(got.keySet == brute.keySet)
    for ((u, exp) <- brute)
      assert(got(u) == exp, s"user $u: got ${got(u)}, brute $exp")
    assert(got.values.map(_._1).sum > 0, "no V-shapes found at all")
  }

  test("q285: full pair matrix, correlations bounded, CS inequality") {
    val rows = run("q285_series_corr_matrix").collect()
    assert(rows.length == 10, s"C(5,2) pairs expected, got ${rows.length}")
    for (r <- rows) {
      val (num, dx, dy) = (r.getAs[Long]("num"), r.getAs[Long]("denx"),
        r.getAs[Long]("deny"))
      assert(dx >= 0 && dy >= 0, "variance numerators must be >= 0")
      // Cauchy-Schwarz in exact integers: num² <= denx·deny
      assert(BigInt(num) * BigInt(num) <= BigInt(dx) * BigInt(dy))
      val rr = r.getAs[Double]("r")
      assert(rr >= -1.0 - 1e-12 && rr <= 1.0 + 1e-12)
    }
  }

  test("q275: belief grows along BOTH bitemporal axes") {
    val rows = run("q275_bitemporal_asof").collect()
      .map(r => (r.getAs[Long]("v"), r.getAs[Long]("tt")) ->
        r.getAs[Long]("n_entities")).toMap
    assert(rows.size == 9)
    val vs = rows.keys.map(_._1).toSeq.distinct.sorted
    val ts = rows.keys.map(_._2).toSeq.distinct.sorted
    // fixing T, widening the valid window can only see MORE entities;
    // fixing V, later transaction times can only know MORE
    for (t0 <- ts; Seq(a, b) <- vs.sliding(2))
      assert(rows((a, t0)) <= rows((b, t0)), s"V-monotone fails at T=$t0")
    for (v0 <- vs; Seq(a, b) <- ts.sliding(2))
      assert(rows((v0, a)) <= rows((v0, b)), s"T-monotone fails at V=$v0")
  }

  test("q271: ABC classes partition revenue with A-heavy ordering") {
    val rows = run("q271_abc_classification").collect()
      .map(r => r.getAs[Long]("cls") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("rev_cents"),
          r.getAs[Long]("share_ppm"))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L))
    // shares floor-divide from one total: sum within 3 ppm of 1e6
    val ppm = rows.values.map(_._3).sum
    assert(ppm > 999997L && ppm <= 1000000L, s"ppm sum $ppm")
    // construction invariants: A stops AT or BEFORE the 80% line
    // (the crossing part goes to B), A+B at or before 95%
    assert(rows(0L)._3 <= 800000L && rows(0L)._3 >= 780000L)
    assert(rows(0L)._3 + rows(1L)._3 <= 950000L)
    assert(rows.values.forall(_._1 >= 1L))
  }

  test("q272: every reported pair is a genuine 7-day same-amount dup") {
    // rebuild the brute-force pair set at sf0.001 and compare counts
    val ev = graft.core.Tables.t(spark, SharedSpark.Sf0001, "events")
      .selectExpr("user_id", "event_id", "event_type",
        "cast(round(value) as long) as usd", "ts div 1000000 as sec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    val brute = ev.toSeq.groupBy(e => (e._1, e._3, e._4)).values
      .flatMap { g =>
        for {
          a <- g; b <- g
          if b._5 >= a._5 && b._5 <= a._5 + 604800L &&
            (a._5 < b._5 || (a._5 == b._5 && a._2 < b._2))
        } yield a._3
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = SparkEntry.queries("q272_double_charge")(
        spark, SharedSpark.Sf0001).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_pairs"))
      .toMap
    assert(got == brute, s"got $got, brute force says $brute")
  }

  test("q273: HHI bounded by [10^8/n, 10^8]; top share <= sqrt bound") {
    val rows = run("q273_hhi_concentration").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, hhi, top) = (r.getAs[Long]("n_suppliers"),
        r.getAs[Long]("hhi_bp2"), r.getAs[Long]("top_share_bp"))
      assert(hhi <= 100000000L, s"HHI above monopoly: $hhi")
      // floor-division can only undershoot the rational lower bound
      assert(hhi >= 100000000L / n - 2 * 10000L,
        s"HHI $hhi below equal-share floor for n=$n")
      assert(top.toDouble * top <= hhi.toDouble + 1e-6,
        "top share² cannot exceed the sum of squares")
    }
  }
}
