package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{QueryDef, QueryPack}
import graft.core.Tables.{sumDec, t}
import graft.operators.{AsOfJoin, DistributedSelect, RangeJoin, Sessionize}

/** Temporal operators over `events` plus grouping/statistics extensions:
  * as-of join, banded range join, sessionization, CUBE grouping sets,
  * exact-arithmetic correlation, and discrete percentiles.
  *
  * All `events.ts` comparisons happen at MICROsecond precision on both
  * sides: [[graft.core.Tables.t]] normalizes the column to epoch-µs
  * longs for every testdata vintage (ns-long or timestamp), matching
  * DuckDB's `epoch_us(ts)` — comparing at different precisions would
  * disagree on ties and band boundaries.
  */
object Temporal extends QueryPack {

  /** 2h session gap / 10min band width, in microseconds. */
  private val SessionGapUs = 7200000000L
  private val BandWidthUs = 600000000L

  /** Two-sample Kolmogorov-Smirnov statistic
    * D = max_v |ECDF_A(v) − ECDF_B(v)| as a one-row DataFrame
    * (na, nb, ks_d) — the engine form behind q61.
    *
    * SCALE CONTRACT: exact mode (`buckets = None`) groups by the RAW
    * value first, so the running sum scans the DISTINCT VALUE DOMAIN,
    * not the rows — and that cumsum is a two-phase distributed prefix
    * sum (range-striped parallel windows + broadcast stripe offsets),
    * so even a continuous metric whose domain ≈ the row count never
    * funnels through one task. Exact mode still SHUFFLES the whole
    * distinct domain once; pass `buckets = Some(B)` to quantize onto B
    * equal-width ECDF bins first when an approximation suffices. The
    * bin histogram is an ordinary map-side-combined groupBy
    * (B rows out), the window cost drops to B, and the D error is
    * bounded by the largest per-bin probability mass (≤ the bin width's
    * share of the distribution; standard ECDF sketching).
    */
  /** Equal-width bin index of `v` over [lo, hi] — ONE formula for both
    * the ECDF-bin quantization and the prefix-sum range stripes, so the
    * two can never drift. NULL `v` stays NULL (callers decide where
    * NULLs land); a degenerate range (hi <= lo) collapses to bin 0. */
  private def equalWidthBin(
      v: org.apache.spark.sql.Column,
      lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column =
    when(hi > lo, least(floor((v - lo) / (hi - lo) * n), lit(n - 1)))
      .otherwise(lit(0))

  def ksStatistic(
      df: org.apache.spark.sql.DataFrame,
      value: org.apache.spark.sql.Column,
      isA: org.apache.spark.sql.Column,
      isB: org.apache.spark.sql.Column,
      buckets: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val v = value.cast("double")
    val rows = df.filter(isA || isB)
      .select(v.as("v"), isA.as("a"), isB.as("b"))
    val keyed = buckets match {
      case None => rows
      case Some(bN) =>
        // equal-width bins over the observed range: two linear passes
        // (min/max, then histogram), never a per-row sort
        val range = rows.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
        rows.crossJoin(broadcast(range))
          .select(
            equalWidthBin(col("v"), col("lo"), col("hi"), bN).as("v"),
            col("a"), col("b"))
    }
    val counts = keyed
      .groupBy(col("v"))
      .agg(
        count(when(col("a"), 1)).as("ca"),
        count(when(col("b"), 1)).as("cb"))
    // Two-phase distributed prefix sum over the value domain: an
    // unpartitioned running window would move EVERY distinct value to
    // one task (Spark warns exactly that), which dies when the metric
    // is continuous at corpus scale. Phase 1: cumsum WITHIN each of P
    // range stripes (parallel window keyed by stripe). Phase 2: add
    // the broadcast per-stripe offsets — one row per stripe, bounded
    // by P, never by the data. The stripe id is a PURE FUNCTION of v
    // (equal-width over the observed [lo, hi]), not repartitionByRange:
    // sampled range boundaries could differ between the two plan
    // branches that both need the stripe id, which would silently
    // misalign the offsets; a deterministic expression cannot. A NULL
    // value lands in stripe 0, where the window's asc-nulls-first
    // order places it before every number — the same position the
    // global nulls-first sort gave it.
    val P = 32
    val vr = counts.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val striped = counts.crossJoin(broadcast(vr))
      .withColumn("pid",
        coalesce(equalWidthBin(col("v"), col("lo"), col("hi"), P), lit(0)))
      .drop("lo", "hi")
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy("v").rowsBetween(Long.MinValue, 0)
    val local = striped
      .withColumn("la", sum(col("ca")).over(wp))
      .withColumn("lb", sum(col("cb")).over(wp))
    // offsets: one row per stripe (P rows, fixed constant) — the
    // exclusive prefix sums over those P rows fold inside ONE bounded
    // collect_list row (transform + aggregate over the i-element
    // slice, O(P^2) on P≈dozens), so no unpartitioned WindowExec ever
    // enters the plan
    val offsets = striped.groupBy("pid")
      .agg(sum(col("ca")).as("sa"), sum(col("cb")).as("sb"))
      .agg(sort_array(collect_list(
        struct(col("pid"), col("sa"), col("sb")))).as("xs"))
      .select(explode(expr(
        """transform(xs, (x, i) -> struct(x.pid AS pid,
          |  aggregate(slice(xs, 1, i), 0L, (a, y) -> a + y.sa) AS oa,
          |  aggregate(slice(xs, 1, i), 0L, (a, y) -> a + y.sb) AS ob))"""
          .stripMargin)).as("o"))
      .select(col("o.pid").as("pid"), col("o.oa").as("oa"),
        col("o.ob").as("ob"))
    val totals = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    local
      .join(broadcast(offsets), Seq("pid"))
      .select((col("la") + col("oa")).as("cuma"),
        (col("lb") + col("ob")).as("cumb"))
      .crossJoin(broadcast(totals))
      .groupBy("na", "nb")
      .agg(max(abs(
        col("cuma").cast("double") / col("na").cast("double") -
          col("cumb").cast("double") / col("nb").cast("double")))
        .as("ks_d"))
  }

  def defs: Seq[QueryDef] = Seq(
    // ---- as-of join: each click's most recent prior purchase ----
    // (point-in-time correctness is the canonical feature-store /
    // training-data op: "attribute the click to the last purchase
    // state known at click time", never to a future row)
    QueryDef(
      "q45_asof_join",
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev
          .filter(col("event_type") === "click")
          .select(
            col("event_id"), col("user_id"),
            col("ts").as("ts_us"))
        // one row per (user, micro-ts): "the" latest prior row must be
        // unambiguous for any engine (see AsOfJoin scaladoc)
        val purchases = ev
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts").as("ts_us"))
          .agg(min(col("event_id")).as("prior_purchase_id"))
        AsOfJoin
          .priorJoin(clicks, purchases, "user_id", "ts_us",
            Seq("prior_purchase_id"))
          .select("event_id", "prior_purchase_id")
      },
      Some("""
        WITH clicks AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'click'),
        purchases AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
                 MIN(event_id) AS prior_purchase_id
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id, epoch_us(ts))
        SELECT c.event_id, p.prior_purchase_id
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts_us >= p.ts_us""")),

    // ---- banded range join: same-user event pairs within 10 min ----
    QueryDef(
      "q46_range_join",
      (s, d) => {
        val e = t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            col("ts").as("ts_us"))
        RangeJoin.bandPairs(e, "user_id", "ts_us", "event_id", BandWidthUs)
      },
      Some("""
        SELECT DISTINCT
          LEAST(a.event_id, b.event_id) AS id_a,
          GREATEST(a.event_id, b.event_id) AS id_b
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND epoch_us(b.ts) >= epoch_us(a.ts)
         AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
         AND a.event_id <> b.event_id""")),

    // ---- gap sessionization: per-user session stats ----
    QueryDef(
      "q47_sessionize",
      (s, d) => {
        val e = t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            col("ts").as("ts_us"))
        Sessionize
          .withSessionId(e, "user_id", col("ts_us"), col("event_id"),
            SessionGapUs)
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_sessions"),
            max(col("n")).as("max_len"),
            sum(col("n")).as("n_events"))
      },
      Some("""
        WITH g AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
            CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 7200000000
                 THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        s AS (
          SELECT user_id,
            SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g),
        per AS (
          SELECT user_id, session_id, COUNT(*) AS n
          FROM s GROUP BY user_id, session_id)
        SELECT user_id,
          COUNT(*) AS n_sessions,
          CAST(MAX(n) AS BIGINT) AS max_len,
          CAST(SUM(n) AS BIGINT) AS n_events
        FROM per GROUP BY user_id""")),

    // ---- CUBE grouping sets with grouping indicators ----
    QueryDef(
      "q48_cube",
      (s, d) =>
        t(s, d, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          // grouping() is only resolvable inside the Aggregate itself
          .agg(
            grouping(col("o_orderstatus")).cast("int").as("g_status"),
            grouping(col("o_orderpriority")).cast("int").as("g_prio"),
            count(lit(1)).as("n"),
            sumDec(col("o_totalprice")).as("sum_price"))
          .select(
            col("o_orderstatus"), col("o_orderpriority"),
            col("g_status"), col("g_prio"), col("n"), col("sum_price")),
      Some("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
          CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
          COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)""")),

    // ---- exact-arithmetic Pearson correlation ----
    // corr() itself is order-dependent in any engine (running double
    // sums); instead every moment is summed in decimal (exact) and the
    // final corr is ONE identical double expression on identical inputs
    // in both engines. Magnitudes are chosen so each decimal sum stays
    // under 2^53 when scaled — the decimal→double cast is then exact,
    // not rounded, on both sides.
    QueryDef(
      "q49_corr_exact",
      (s, d) => {
        val x = col("l_quantity").cast(DecimalType(18, 2))
        val y = col("l_discount").cast(DecimalType(18, 2))
        val n = col("n").cast("double")
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(x).cast("double").as("sx"),
            sum(y).cast("double").as("sy"),
            sum(x * x).cast("double").as("sxx"),
            sum(y * y).cast("double").as("syy"),
            sum(x * y).cast("double").as("sxy"))
          // NULL (not Inf/NaN) on a zero-variance group: Spark double
          // x/0 is Inf while DuckDB's is NULL (the q79 discipline)
          .withColumn(
            "corr_qd",
            when(
              sqrt(n * col("sxx") - col("sx") * col("sx")) *
                sqrt(n * col("syy") - col("sy") * col("sy")) =!= 0.0,
              (n * col("sxy") - col("sx") * col("sy")) /
                (sqrt(n * col("sxx") - col("sx") * col("sx")) *
                  sqrt(n * col("syy") - col("sy") * col("sy")))))
      },
      Some("""
        SELECT l_returnflag, n, sx, sy, sxx, syy, sxy,
          (n_d * sxy - sx * sy) /
            nullif(sqrt(n_d * sxx - sx * sx) * sqrt(n_d * syy - sy * sy), 0)
            AS corr_qd
        FROM (
          SELECT l_returnflag,
            COUNT(*) AS n,
            CAST(COUNT(*) AS DOUBLE) AS n_d,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                     CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
            CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) *
                     CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syy,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                     CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxy
          FROM lineitem GROUP BY l_returnflag)""")),

    // ---- discrete percentiles (element-picking: no interpolation
    //      arithmetic to diverge on) ----
    QueryDef(
      "q50_percentile_disc",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)")
              .as("p50"),
            expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)")
              .as("p90"),
            expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY l_quantity)")
              .as("p99")),
      Some("""
        SELECT l_returnflag,
          quantile_disc(l_quantity, 0.5) AS p50,
          quantile_disc(l_quantity, 0.9) AS p90,
          quantile_disc(l_quantity, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- two-sample Kolmogorov-Smirnov statistic ----
    // (the reference's anomaly jobs gate on KS ranges; here exact and
    // in-engine): D = max over pooled distinct values of
    // |ECDF_A(v) − ECDF_B(v)|. Grouping by value first makes tie
    // handling order-free; the CDF runs over DISTINCT values via the
    // two-phase range-striped prefix sum in [[ksStatistic]], so even a
    // continuous value domain never funnels through one task. The
    // exact path still shuffles the whole distinct domain once; when
    // an approximation suffices, `buckets` (q68) quantizes first and
    // bounds the error by the max per-bin mass.
    // Every compared number is (exact int)/(exact int) in double: IEEE-
    // identical cross-engine.
    QueryDef(
      "q61_ks_test",
      (s, d) => {
        // exact-mode ksStatistic — the same helper q68 buckets; one
        // implementation, two modes
        val rf = col("l_returnflag")
        ksStatistic(t(s, d, "lineitem"), col("l_quantity"),
          rf === "A", rf === "R")
      },
      Some("""
        WITH counts AS (
          SELECT l_quantity AS v,
            COUNT(*) FILTER (l_returnflag = 'A') AS ca,
            COUNT(*) FILTER (l_returnflag = 'R') AS cb
          FROM lineitem WHERE l_returnflag IN ('A', 'R')
          GROUP BY l_quantity),
        cdf AS (
          SELECT
            SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
            SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
            SUM(ca) OVER () AS na,
            SUM(cb) OVER () AS nb
          FROM counts)
        SELECT CAST(MAX(na) AS BIGINT) AS na, CAST(MAX(nb) AS BIGINT) AS nb,
          MAX(ABS(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
            - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks_d
        FROM cdf""")),

    // ---- ECDF-bucketed KS variant on a CONTINUOUS metric ----
    // (the 100 TB form when the value domain ≈ the row count: 64
    // equal-width bins bound the window input at 64 rows regardless of
    // cardinality). Oracle-exact because every number on the path is
    // IEEE-identical cross-engine: bin = floor((v-lo)/(hi-lo)*64) uses
    // only -, /, * on doubles; the D values are (exact int)/(exact
    // int) differences.
    QueryDef(
      "q68_ks_binned",
      (s, d) => {
        val rf = col("l_returnflag")
        ksStatistic(
          t(s, d, "lineitem"),
          col("l_extendedprice"),
          rf === "A", rf === "R",
          buckets = Some(64))
      },
      Some("""
        WITH rf AS (
          SELECT CAST(l_extendedprice AS DOUBLE) AS v,
            l_returnflag = 'A' AS a, l_returnflag = 'R' AS b
          FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        rng AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM rf),
        keyed AS (
          SELECT CASE WHEN hi > lo
              THEN LEAST(FLOOR((v - lo) / (hi - lo) * 64), 63)
              ELSE 0 END AS bin, a, b
          FROM rf, rng),
        counts AS (
          SELECT bin, COUNT(*) FILTER (a) AS ca, COUNT(*) FILTER (b) AS cb
          FROM keyed GROUP BY bin),
        cdf AS (
          SELECT
            SUM(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cuma,
            SUM(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cumb,
            SUM(ca) OVER () AS na,
            SUM(cb) OVER () AS nb
          FROM counts)
        SELECT CAST(MAX(na) AS BIGINT) AS na, CAST(MAX(nb) AS BIGINT) AS nb,
          MAX(ABS(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
            - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks_d
        FROM cdf""")),

    // ---- GROUPING SETS proper (beyond q37 ROLLUP / q48 CUBE): the
    //      report-matrix shape a dashboard wants — (status, priority)
    //      detail, per-priority subtotal, grand total — WITHOUT the
    //      per-status slice a full CUBE would also pay for. Spark 4's
    //      native Dataset.groupingSets expands inside ONE aggregate
    //      (one shuffle, map-side combinable partials per set);
    //      grouping() indicators disambiguate subtotal rows from real
    //      NULL keys. Money sums in decimal (exact), final cast to
    //      double (Tables.sumDec). Scale: identical budget to the
    //      plain groupBy — the expansion multiplies partial-agg rows
    //      by the set count (3), never the input rows. ----
    QueryDef(
      "q112_grouping_sets",
      (s, d) =>
        t(s, d, "orders")
          .groupingSets(
            Seq(
              Seq(col("o_orderstatus"), col("o_orderpriority")),
              Seq(col("o_orderpriority")),
              Seq()),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            grouping(col("o_orderstatus")).cast("long").as("g_status"),
            grouping(col("o_orderpriority")).cast("long").as("g_prio"),
            count(lit(1)).as("n_orders"),
            sumDec(col("o_totalprice")).as("sum_price")),
      Some("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
          CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          (o_orderpriority), ())""")),

    // ---- Hopping (sliding) event-time windows — the Structured
    //      Streaming `window(ts, size, slide)` operator certified in
    //      batch: 10-minute windows hopping every 5, so every event
    //      lands in exactly size/slide = 2 windows. Spark expands the
    //      window set per-row (a generator, no join) and the aggregate
    //      is one map-side-combinable (window, type) groupBy — the
    //      same plan a streaming job compiles to, minus the state
    //      store. Cross-engine exactness: comparisons at epoch
    //      MICROsecond longs (header note), window starts are
    //      multiples of 300s from the epoch (TZ-free), and the value
    //      sum is over floor(value·1000) bigints — floor of an IEEE
    //      product is bit-identical cross-engine, so no double-sum
    //      order dependence. The oracle mirrors the expansion with
    //      unnest([s0, s0−300]). ----
    QueryDef(
      "q113_hopping_window",
      (s, d) =>
        t(s, d, "events")
          .select(col("event_type"),
            floor(col("value") * 1000.0).cast("long").as("v_milli"),
            col("ts").as("ts_us"))
          .select(col("event_type"), col("v_milli"),
            window(timestamp_micros(col("ts_us")),
              "600 seconds", "300 seconds").as("w"))
          .select(unix_timestamp(col("w.start")).as("w_start"),
            col("event_type"), col("v_milli"))
          .groupBy("w_start", "event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("v_milli")).as("sum_v_milli")),
      Some("""
        WITH e AS (
          SELECT event_type,
            CAST(floor("value" * 1000.0) AS BIGINT) AS v_milli,
            (epoch_us(ts) // 300000000) * 300 AS s0
          FROM events),
        w AS (
          SELECT event_type, v_milli,
            unnest([s0, s0 - 300]) AS w_start
          FROM e)
        SELECT w_start, event_type,
          COUNT(*) AS n_events,
          CAST(SUM(v_milli) AS BIGINT) AS sum_v_milli
        FROM w GROUP BY w_start, event_type""")),

    // ---- Robust outlier detection: median / MAD (median absolute
    //      deviation) per event_type, flagging |v − med| > 3·MAD.
    //      The robust z-score every metrics pipeline runs before
    //      alerting — mean/stddev would let the outliers poison their
    //      own threshold. Cross-engine exact: percentile_disc PICKS
    //      data values (no interpolation arithmetic), and the
    //      deviation/threshold compares are single IEEE ops on
    //      identical operands. Scale: two grouped exact medians (the
    //      sort is per-type and AQE-splittable; at 100 TB swap
    //      percentile_disc for the q41 sketch quantile — same shape)
    //      plus two broadcast joins of a 5-row medians table; the
    //      final rollup is map-side combinable. ----
    QueryDef(
      "q115_mad_outliers",
      (s, d) => {
        val e = t(s, d, "events").select(col("event_type"), col("value"))
        val med = e.groupBy("event_type")
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
            .as("med"))
        val dev = e.join(broadcast(med), "event_type")
          .select(col("event_type"), col("value"), col("med"),
            abs(col("value") - col("med")).as("ad"))
        val mad = dev.groupBy("event_type")
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)")
            .as("mad"))
        dev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            max(col("med")).as("med"),
            max(col("mad")).as("mad"),
            sum(when(col("ad") > col("mad") * 3.0, 1L).otherwise(0L))
              .as("n_outliers"),
            max(col("ad")).as("max_abs_dev"))
      },
      Some("""
        WITH med AS (
          SELECT event_type, quantile_disc("value", 0.5) AS med
          FROM events GROUP BY event_type),
        dev AS (
          SELECT e.event_type, ABS(e."value" - med.med) AS ad, med.med
          FROM events e JOIN med USING (event_type)),
        mad AS (
          SELECT event_type, quantile_disc(ad, 0.5) AS mad
          FROM dev GROUP BY event_type)
        SELECT event_type,
          COUNT(*) AS n,
          MAX(dev.med) AS med,
          MAX(mad.mad) AS mad,
          CAST(SUM(CASE WHEN ad > mad.mad * 3.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
          MAX(ad) AS max_abs_dev
        FROM dev JOIN mad USING (event_type)
        GROUP BY event_type""")),

    // ---- time-series densification (gap fill): daily event counts
    //      per type with MISSING days zero-filled — the step every
    //      downstream window/forecast consumer needs (a lag() over a
    //      sparse series silently skips gaps). The day grid is
    //      sequence(min_day, max_day) × distinct types — both derived
    //      in-query, no hardcoded calendar. Cross-engine exact: days
    //      are epoch-microsecond trunc-divisions (all positive), and
    //      the fill is COALESCE(count, 0). Scale: the grid is
    //      types × days ≪ events; the count aggregate is map-side
    //      combinable; the fill join is a broadcast of the grid's
    //      matching side — events themselves are scanned once and
    //      never re-shuffled. ----
    QueryDef(
      "q119_gap_fill",
      (s, d) => {
        val e = t(s, d, "events")
          .select(col("event_type"),
            expr("ts div 86400000000").as("day"))
        val counts = e.groupBy("event_type", "day")
          .agg(count(lit(1)).as("n"))
        val days = e.agg(min("day").as("lo"), max("day").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        val grid = e.select("event_type").distinct()
          .crossJoin(broadcast(days))
        grid.join(broadcast(counts), Seq("event_type", "day"), "left")
          .select(col("event_type"), col("day"),
            coalesce(col("n"), lit(0L)).as("n"),
            when(col("n").isNull, 1L).otherwise(0L).as("is_gap"))
      },
      Some("""
        WITH e AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day
          FROM events),
        counts AS (
          SELECT event_type, day, COUNT(*) AS n FROM e GROUP BY 1, 2),
        days AS (
          SELECT unnest(generate_series(MIN(day), MAX(day))) AS day
          FROM e),
        grid AS (
          SELECT t.event_type, days.day
          FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN days)
        SELECT g.event_type, g.day,
          COALESCE(c.n, 0) AS n,
          CAST(CASE WHEN c.n IS NULL THEN 1 ELSE 0 END AS BIGINT)
            AS is_gap
        FROM grid g LEFT JOIN counts c USING (event_type, day)""")),

    // ---- SCD type-2 interval build: compress each user's event-type
    //      stream into validity intervals [valid_from, valid_to) —
    //      the slowly-changing-dimension history table a warehouse
    //      derives from a change stream (and the exact batch shape of
    //      streaming session/state compaction). Change points via
    //      lag() over the tie-broken (ts, event_id) order; interval
    //      ends via lead() over the SURVIVING change points — two
    //      window passes over ONE user-keyed exchange (same partition
    //      spec, Spark reuses the partitioning; plan-asserted). Open
    //      intervals keep valid_to NULL with is_current = 1. All
    //      comparisons at epoch-us longs. ----
    QueryDef(
      "q125_scd2",
      (s, d) => {
        val byTs = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts_us"), col("event_id"))
        val e = t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts").as("ts_us"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(byTs))
          .filter(col("prev_type").isNull ||
            col("prev_type") =!= col("event_type"))
        e.withColumn("valid_to", lead(col("ts_us"), 1).over(byTs))
          .select(col("user_id"), col("event_type"),
            col("ts_us").as("valid_from"), col("valid_to"),
            when(col("valid_to").isNull, 1L).otherwise(0L)
              .as("is_current"))
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
            lag(event_type) OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts), event_id) AS prev_type
          FROM events),
        ch AS (
          SELECT user_id, event_id, event_type, ts_us FROM o
          WHERE prev_type IS NULL OR prev_type <> event_type)
        SELECT user_id, event_type, ts_us AS valid_from,
          lead(ts_us) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id) AS valid_to,
          CAST(CASE WHEN lead(ts_us) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id) IS NULL THEN 1 ELSE 0 END
            AS BIGINT) AS is_current
        FROM ch""")),

    // ---- Ordered funnel analysis: view → click → purchase, each
    //      step strictly AFTER the previous one (the sequence
    //      constraint is what distinguishes a funnel from three
    //      independent filters — a purchase before the first view
    //      must NOT count). Three conditional-min aggregates, each
    //      gated on the previous step's timestamp; the per-step
    //      user table stays user-keyed and tiny, so the two gating
    //      joins broadcast at test scale and stay co-partitioned
    //      user-keyed joins at any scale (no re-shuffle: every stage
    //      keys on user_id). Output: each user's deepest step and
    //      step timestamps — the conversion report rolls up from it. ----
    QueryDef(
      "q126_funnel",
      (s, d) => {
        val e = t(s, d, "events")
          .select(col("user_id"), col("event_type"),
            col("ts").as("ts_us"))
        val t1 = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts_us").as("t1"))
        val t2 = e.join(broadcast(t1), "user_id")
          .filter(col("event_type") === "click" && col("ts_us") > col("t1"))
          .groupBy("user_id").agg(min("ts_us").as("t2"))
        val t3 = e.join(broadcast(t2), "user_id")
          .filter(col("event_type") === "purchase" &&
            col("ts_us") > col("t2"))
          .groupBy("user_id").agg(min("ts_us").as("t3"))
        t1.join(t2, Seq("user_id"), "left")
          .join(t3, Seq("user_id"), "left")
          .select(col("user_id"), col("t1"), col("t2"), col("t3"),
            (lit(1L) + when(col("t2").isNotNull, 1L).otherwise(0L)
              + when(col("t3").isNotNull, 1L).otherwise(0L))
              .as("funnel_depth"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        t1 AS (
          SELECT user_id, MIN(ts_us) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY user_id),
        t2 AS (
          SELECT e.user_id, MIN(e.ts_us) AS t2
          FROM e JOIN t1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts_us > t1.t1
          GROUP BY e.user_id),
        t3 AS (
          SELECT e.user_id, MIN(e.ts_us) AS t3
          FROM e JOIN t2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts_us > t2.t2
          GROUP BY e.user_id)
        SELECT t1.user_id, t1.t1, t2.t2, t3.t3,
          CAST(1 + CASE WHEN t2.t2 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t3.t3 IS NOT NULL THEN 1 ELSE 0 END
            AS BIGINT) AS funnel_depth
        FROM t1
        LEFT JOIN t2 ON t1.user_id = t2.user_id
        LEFT JOIN t3 ON t1.user_id = t3.user_id""")),

    // ---- Retention cohort matrix: users grouped by first-active day,
    //      distinct-user counts at each later activity age — the
    //      day-N retention table every growth dashboard opens with.
    //      The cohort map is ONE user-keyed min aggregate joined back
    //      to the activity stream (broadcast at test scale;
    //      co-partitioned user-keyed at any scale), then a combinable
    //      (cohort, age) distinct-count — which collapses to count(*)
    //      because (user, day) rows are pre-deduped. Days are
    //      epoch-us trunc-divisions, all positive. ----
    QueryDef(
      "q127_retention",
      (s, d) => {
        val ud = t(s, d, "events")
          .select(col("user_id"),
            expr("ts div 86400000000").as("day"))
          .distinct()
        val cohort = ud.groupBy("user_id").agg(min("day").as("cohort_day"))
        ud.join(broadcast(cohort), "user_id")
          .groupBy(col("cohort_day"), (col("day") - col("cohort_day"))
            .as("age_days"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""
        WITH ud AS (
          SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
          FROM events),
        cohort AS (
          SELECT user_id, MIN(day) AS cohort_day FROM ud
          GROUP BY user_id)
        SELECT c.cohort_day, ud.day - c.cohort_day AS age_days,
          COUNT(*) AS n_users
        FROM ud JOIN cohort c USING (user_id)
        GROUP BY 1, 2""")),

    // ---- q141: OHLC bars — the time-series downsampling shape every
    //      metrics/market pipeline runs: per (user, minute) open (first
    //      value by event time), high, low, close (last value), count.
    //      Open/close come from one rank window per direction inside
    //      the (user, minute) partition — deterministic under the
    //      (ts, event_id) total order — then one combinable aggregate.
    //      No value arithmetic at all (pass-through doubles + min/max),
    //      so cross-engine exactness is structural. Scale: both windows
    //      and the aggregate share the (user, minute) partitioning —
    //      ONE keyed exchange; bars per key are time-bounded. ----
    QueryDef(
      "q141_ohlc_bars",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("value"),
            expr("ts div 60000000").as("minute"), col("ts"))
        val wAsc = Window.partitionBy("user_id", "minute")
          .orderBy(col("ts").asc, col("event_id").asc)
        val wDesc = Window.partitionBy("user_id", "minute")
          .orderBy(col("ts").desc, col("event_id").desc)
        e.withColumn("rn_o", row_number().over(wAsc))
          .withColumn("rn_c", row_number().over(wDesc))
          .groupBy("user_id", "minute")
          .agg(
            max(when(col("rn_o") === 1, col("value"))).as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max(when(col("rn_c") === 1, col("value"))).as("close"),
            count(lit(1)).as("n_events"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, value,
            epoch_us(ts) // 60000000 AS minute, epoch_us(ts) AS tsu
          FROM events),
        r AS (
          SELECT *,
            row_number() OVER (PARTITION BY user_id, minute
              ORDER BY tsu ASC, event_id ASC) AS rn_o,
            row_number() OVER (PARTITION BY user_id, minute
              ORDER BY tsu DESC, event_id DESC) AS rn_c
          FROM e)
        SELECT user_id, minute,
          MAX(CASE WHEN rn_o = 1 THEN value END) AS open,
          MAX(value) AS high, MIN(value) AS low,
          MAX(CASE WHEN rn_c = 1 THEN value END) AS close,
          COUNT(*) AS n_events
        FROM r GROUP BY user_id, minute""")),

    // ---- q147: per-(type, hour) latency/value bands — the SLO
    //      monitoring rollup (p50/p95/p99 per service per hour), built
    //      on discrete percentiles (element-picking, q50's discipline
    //      — no interpolation arithmetic to diverge cross-engine).
    //      One combinable keyed aggregate; group count is
    //      types × hours, time-bounded at any scale. ----
    QueryDef(
      "q147_latency_bands",
      (s, d) =>
        t(s, d, "events")
          .select(col("event_type"), expr("ts div 3600000000").as("hour"),
            col("value"))
          .groupBy("event_type", "hour")
          .agg(
            count(lit(1)).as("n"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
              .as("p50"),
            expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)")
              .as("p95"),
            expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)")
              .as("p99")),
      Some("""
        SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
          COUNT(*) AS n,
          quantile_disc(value, 0.5) AS p50,
          quantile_disc(value, 0.95) AS p95,
          quantile_disc(value, 0.99) AS p99
        FROM events GROUP BY 1, 2""")),

    // ---- q148: last-touch conversion attribution — REUSES the J5
    //      as-of operator (q45): each purchase joins the latest prior
    //      non-purchase touch of the same user (touches pre-deduped to
    //      one row per (user, µs), the operator's contract); credit
    //      goes to the touch's event type when it landed within the
    //      30-minute window, else 'none'. The attribution report is a
    //      tiny keyed count + one broadcast total; shares are one IEEE
    //      division each. Same plan shape at 100 TB: the as-of union
    //      window is the only corpus-sized exchange. ----
    QueryDef(
      "q148_attribution",
      (s, d) => {
        val ev = t(s, d, "events")
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("conv_id"), col("user_id"),
            col("ts").as("ts_us"))
        val touches = ev.filter(col("event_type") =!= "purchase")
          .groupBy(col("user_id"), col("ts").as("ts_us"))
          .agg(min(col("event_id")).as("touch_id"))
          .withColumn("touch_ts", col("ts_us"))
        val joined = AsOfJoin.priorJoin(conv, touches, "user_id", "ts_us",
          Seq("touch_id", "touch_ts"))
        val typed = joined.join(
          ev.select(col("event_id").as("touch_id"),
            col("event_type").as("touch_type")),
          Seq("touch_id"), "left")
        val credited = typed.select(col("conv_id"),
          when(col("touch_id").isNull ||
            col("ts_us") - col("touch_ts") > 1800000000L, "none")
            .otherwise(col("touch_type")).as("credit"))
        val total = credited.agg(count(lit(1)).as("total"))
        credited.groupBy("credit")
          .agg(count(lit(1)).as("n_conversions"))
          .crossJoin(broadcast(total))
          .select(col("credit"), col("n_conversions"),
            (col("n_conversions").cast("double") /
              col("total").cast("double")).as("share"))
      },
      Some("""
        WITH conv AS (
          SELECT event_id AS conv_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'purchase'),
        touches AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
            MIN(event_id) AS touch_id, epoch_us(ts) AS touch_ts
          FROM events WHERE event_type <> 'purchase'
          GROUP BY user_id, epoch_us(ts)),
        j AS (
          SELECT c.conv_id, c.ts_us, t.touch_id, t.touch_ts
          FROM conv c ASOF LEFT JOIN touches t
            ON c.user_id = t.user_id AND c.ts_us >= t.ts_us),
        typed AS (
          SELECT j.*, e.event_type AS touch_type
          FROM j LEFT JOIN events e ON j.touch_id = e.event_id),
        credited AS (
          SELECT conv_id,
            CASE WHEN touch_id IS NULL OR ts_us - touch_ts > 1800000000
              THEN 'none' ELSE touch_type END AS credit
          FROM typed),
        tot AS (SELECT COUNT(*) AS total FROM credited)
        SELECT credit, COUNT(*) AS n_conversions,
          CAST(COUNT(*) AS DOUBLE) / total AS share
        FROM credited, tot GROUP BY credit, total""")),

    // ---- q150: time-weighted average (TWAP) per (user, hour) — the
    //      metric that differs from a plain mean exactly when sampling
    //      is irregular: each value holds until the next event (or the
    //      hour end for the last one). Cross-engine exact by the 2^20
    //      quantization discipline: values quantize BEFORE the
    //      weighted products, weights are integer µs, and the per-group
    //      sums ride DECIMAL(38,0) (a qv·dt product reaches ~2^59 —
    //      bigint sums could overflow); the TWAP is one division of
    //      identically-rounded operands. One lead window + one
    //      combinable aggregate on the same (user, hour) key. ----
    QueryDef(
      "q150_twap",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, d, "events")
          .select(col("user_id"), col("ts"),
            expr("ts div 3600000000").as("hour"),
            floor(col("value") * 1048576.0 + 0.5).cast("long").as("qv"))
        val w = Window.partitionBy("user_id", "hour")
          .orderBy(col("ts"), col("qv"))
        e.withColumn("nxt",
            coalesce(lead(col("ts"), 1).over(w),
              (col("hour") + 1) * 3600000000L))
          .withColumn("dt", col("nxt") - col("ts"))
          .groupBy("user_id", "hour")
          .agg(count(lit(1)).as("n"),
            sum(col("dt")).as("sum_dt"),
            sum((col("qv") * col("dt")).cast("decimal(38,0)"))
              .as("wsum"))
          .select(col("user_id"), col("hour"), col("n"), col("sum_dt"),
            (col("wsum").cast("double") /
              (col("sum_dt").cast("double") * 1048576.0)).as("twap"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS tsu,
            epoch_us(ts) // 3600000000 AS hour,
            CAST(floor(value * 1048576.0 + 0.5) AS BIGINT) AS qv
          FROM events),
        l AS (
          SELECT user_id, hour, qv, tsu,
            COALESCE(lead(tsu, 1) OVER (PARTITION BY user_id, hour
              ORDER BY tsu, qv), (hour + 1) * 3600000000) - tsu AS dt
          FROM e)
        SELECT user_id, hour, COUNT(*) AS n,
          CAST(SUM(dt) AS BIGINT) AS sum_dt,
          CAST(SUM(CAST(qv * dt AS DECIMAL(38,0))) AS DOUBLE)
            / (CAST(SUM(dt) AS BIGINT) * 1048576.0) AS twap
        FROM l GROUP BY user_id, hour""")),

    // ---- q153: time-to-convert distribution — q148's attribution
    //      join reused for the LATENCY question (how long after the
    //      last touch do users convert?): per crediting touch type,
    //      the count and the p50/p90/max touch→purchase delay in
    //      integer milliseconds (µs div 1000 — exact; percentile_disc
    //      picks an element — integral values — but Spark types the
    //      aggregate DOUBLE, so we cast back to long for the
    //      dtype-exact oracle compare). Same plan
    //      spine as q148: the as-of union window is the only
    //      corpus-sized exchange; the percentile aggregate is keyed by
    //      the 5-value touch-type vocabulary. ----
    QueryDef(
      "q153_convert_latency",
      (s, d) => {
        val ev = t(s, d, "events")
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("conv_id"), col("user_id"),
            col("ts").as("ts_us"))
        val touches = ev.filter(col("event_type") =!= "purchase")
          .groupBy(col("user_id"), col("ts").as("ts_us"))
          .agg(min(col("event_id")).as("touch_id"))
          .withColumn("touch_ts", col("ts_us"))
        AsOfJoin.priorJoin(conv, touches, "user_id", "ts_us",
          Seq("touch_id", "touch_ts"))
          .filter(col("touch_id").isNotNull &&
            col("ts_us") - col("touch_ts") <= 1800000000L)
          .join(ev.select(col("event_id").as("touch_id"),
            col("event_type").as("touch_type")), Seq("touch_id"))
          .select(col("touch_type"),
            expr("(ts_us - touch_ts) div 1000").as("latency_ms"))
          .groupBy("touch_type")
          .agg(count(lit(1)).as("n"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_ms)")
              .cast("long").as("p50_ms"),
            expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_ms)")
              .cast("long").as("p90_ms"),
            max(col("latency_ms")).as("max_ms"))
      },
      Some("""
        WITH conv AS (
          SELECT event_id AS conv_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'purchase'),
        touches AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
            MIN(event_id) AS touch_id, epoch_us(ts) AS touch_ts
          FROM events WHERE event_type <> 'purchase'
          GROUP BY user_id, epoch_us(ts)),
        j AS (
          SELECT c.conv_id, c.ts_us, t.touch_id, t.touch_ts
          FROM conv c ASOF LEFT JOIN touches t
            ON c.user_id = t.user_id AND c.ts_us >= t.ts_us),
        credited AS (
          SELECT j.*, e.event_type AS touch_type,
            (j.ts_us - j.touch_ts) // 1000 AS latency_ms
          FROM j JOIN events e ON j.touch_id = e.event_id
          WHERE j.touch_id IS NOT NULL
            AND j.ts_us - j.touch_ts <= 1800000000)
        SELECT touch_type, COUNT(*) AS n,
          quantile_disc(latency_ms, 0.5) AS p50_ms,
          quantile_disc(latency_ms, 0.9) AS p90_ms,
          MAX(latency_ms) AS max_ms
        FROM credited GROUP BY touch_type""")),

    // ---- q156: exact k-th order statistic by distributed selection —
    //      the global-sort killer. A total sort to read ONE order
    //      statistic is the canonical 100 TB anti-pattern (one
    //      total-order exchange, straggler range partitions);
    //      [[graft.operators.DistributedSelect]] finds the exact k-th
    //      smallest in <= 7 histogram-narrowing passes, each a plain
    //      map-side-combined groupBy().count() whose output to the
    //      driver is 1024 counters — the DATA never shuffles at all.
    //      k is the 37th percentile index (an awkward k, so no
    //      percentile shortcut applies). Values are exact integer
    //      cents. The ORACLE side sorts (DuckDB can afford to at
    //      sf0.01) — the hash compare proves selection == sort. ----
    QueryDef(
      "q156_exact_kth",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(round(col("value") * 100).cast("long").as("c"))
          .filter(col("c").isNotNull)
          .persist()
        try {
          val n = ev.count()
          val k = n * 37 / 100 + 1
          val kth = DistributedSelect.kthSmallest(ev, col("c"), k)
          import s.implicits._
          Seq((n, k, kth)).toDF("n", "k", "kth_cents")
        } finally ev.unpersist()
      },
      Some("""
        WITH v AS (
          SELECT CAST(round("value" * 100) AS BIGINT) AS c
          FROM events WHERE "value" IS NOT NULL),
        r AS (
          SELECT c, row_number() OVER (ORDER BY c) AS rn,
            COUNT(*) OVER () AS n
          FROM v)
        SELECT n, (n * 37) // 100 + 1 AS k, c AS kth_cents
        FROM r WHERE rn = (n * 37) // 100 + 1""")),

    // ---- q160: Markov transition matrix over per-user event
    //      sequences — the behavioral-model / anomaly-baseline
    //      operator. lag() over a (user, time)-partitioned window
    //      yields (from_type, to_type) transitions; row probabilities
    //      are reported as exact integer ppm (n·10⁶ div n_from), no
    //      float division crosses the engines. Scale: the only
    //      exchange is the per-user window (users are the natural
    //      partition key); the transition matrix is |types|² rows,
    //      totals broadcast. ----
    QueryDef(
      "q160_event_transitions",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_type"),
            col("ts").as("ts_us"), col("event_id"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_us"), col("event_id"))
        val trans = ev
          .withColumn("from_type", lag(col("event_type"), 1).over(w))
          .filter(col("from_type").isNotNull)
          .select(col("from_type"), col("event_type").as("to_type"))
          .groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("n"))
        val totals = trans.groupBy("from_type")
          .agg(sum("n").as("n_from"))
        trans.join(broadcast(totals), Seq("from_type"))
          .select(col("from_type"), col("to_type"), col("n"),
            col("n_from"), expr("n * 1000000 div n_from").as("ppm"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
          FROM events),
        tr AS (
          SELECT lag(event_type) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id) AS from_type,
            event_type AS to_type
          FROM ev),
        cnt AS (
          SELECT from_type, to_type, COUNT(*) AS n FROM tr
          WHERE from_type IS NOT NULL GROUP BY 1, 2),
        tot AS (
          SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
          FROM cnt GROUP BY 1)
        SELECT c.from_type, c.to_type, c.n, t.n_from,
          c.n * 1000000 // t.n_from AS ppm
        FROM cnt c JOIN tot t USING (from_type)""")),

    // ---- q161: CUSUM change-point per event_type — where does the
    //      value level shift? The offset-free statistic
    //      D_k = n·S_k − k·S_n (S = prefix sum of integer cents) is
    //      exact int64 end-to-end; the change point is argmax |D_k|
    //      (ties → smallest k), the classic at-most-one-change
    //      estimator. Scale: prefix sums ride the per-type window
    //      (types are few but each partition's sort is
    //      range-splittable; the q61 two-phase distributed prefix-sum
    //      pattern applies verbatim if a single type dominates);
    //      totals broadcast; the argmax is an idxmax window. ----
    QueryDef(
      "q161_cusum_changepoint",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("event_type"), col("ts").as("ts_us"),
            col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .filter(col("cents").isNotNull)
        val w = Window.partitionBy("event_type")
          .orderBy(col("ts_us"), col("event_id"))
        val pre = ev
          .withColumn("k", row_number().over(w).cast("long"))
          .withColumn("s_k", sum(col("cents"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        val tot = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("s_n"))
        val scored = pre.join(broadcast(tot), Seq("event_type"))
          .withColumn("d_k",
            col("n") * col("s_k") - col("k") * col("s_n"))
        val w2 = Window.partitionBy("event_type")
          .orderBy(abs(col("d_k")).desc, col("k"))
        scored.withColumn("rn", row_number().over(w2))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("n"), col("s_n"),
            col("k").as("k_star"), col("d_k").as("d_star"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, epoch_us(ts) AS ts_us, event_id,
            CAST(round("value" * 100) AS BIGINT) AS cents
          FROM events WHERE "value" IS NOT NULL),
        pre AS (
          SELECT event_type, cents,
            CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY ts_us, event_id) AS BIGINT) AS k,
            CAST(SUM(cents) OVER (PARTITION BY event_type
              ORDER BY ts_us, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_k
          FROM ev),
        tot AS (
          SELECT event_type, COUNT(*) AS n,
            CAST(SUM(cents) AS BIGINT) AS s_n
          FROM ev GROUP BY 1),
        scored AS (
          SELECT p.event_type, t.n, t.s_n, p.k,
            t.n * p.s_k - p.k * t.s_n AS d_k
          FROM pre p JOIN tot t USING (event_type)),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY ABS(d_k) DESC, k) AS rn
          FROM scored)
        SELECT event_type, n, s_n, k AS k_star, d_k AS d_star
        FROM r WHERE rn = 1""")),

    // ---- q163: SCD2 interval construction from a change log — the
    //      CDC→warehouse operator: per user, consecutive duplicate
    //      states collapse, each surviving change opens a version
    //      valid [ts, next-change ts) with Long.MaxValue as the
    //      open-ended sentinel (NULL-free output keeps the oracle
    //      dtype int64 on both sides). Scale: two windows on the SAME
    //      (user_id)-partitioned sort — one exchange total. ----
    QueryDef(
      "q163_scd2_intervals",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts").as("ts_us"),
            col("event_id"), col("event_type"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_us"), col("event_id"))
        val chg = ev
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        val w2 = Window.partitionBy("user_id")
          .orderBy(col("ts_us"), col("event_id"))
        chg
          .withColumn("version", row_number().over(w2).cast("long"))
          .withColumn("valid_from_us", col("ts_us"))
          .withColumn("valid_to_us",
            coalesce(lead(col("ts_us"), 1).over(w2), lit(Long.MaxValue)))
          .select(col("user_id"), col("version"),
            col("event_type").as("state"),
            col("valid_from_us"), col("valid_to_us"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
          FROM events),
        chg AS (
          SELECT * FROM (
            SELECT user_id, ts_us, event_id, event_type,
              lag(event_type) OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id) AS prev
            FROM ev)
          WHERE prev IS NULL OR prev <> event_type)
        SELECT user_id,
          CAST(row_number() OVER w AS BIGINT) AS version,
          event_type AS state,
          ts_us AS valid_from_us,
          COALESCE(lead(ts_us) OVER w, 9223372036854775807)
            AS valid_to_us
        FROM chg
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""")),

    // ---- q164: sweep-line maximum concurrency — how many intervals
    //      are live at once, per event_type? Each event is an
    //      interval [ts, ts + cents·10ms); +1/−1 boundary points,
    //      ends sorted before starts at ties (touching ≠ concurrent),
    //      running prefix sum, max. All integers. Scale: the sweep is
    //      a per-type window over 2·n skinny rows; if one type
    //      dominates, the q61 two-phase distributed prefix-sum
    //      pattern (range-striped windows + broadcast stripe offsets)
    //      swaps in verbatim. ----
    QueryDef(
      "q164_max_concurrency",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("event_type"), col("ts").as("ts_us"),
            round(col("value") * 100).cast("long").as("cents"))
          .filter(col("cents").isNotNull)
        val starts = ev.select(col("event_type"),
          col("ts_us").as("t"), lit(1L).as("delta"))
        val ends = ev.select(col("event_type"),
          (col("ts_us") + col("cents") * 10000L).as("t"),
          lit(-1L).as("delta"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("t"), col("delta"))
        starts.union(ends)
          .withColumn("live", sum(col("delta"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("event_type")
          .agg((count(lit(1)) / 2).cast("long").as("n_intervals"),
            max(col("live")).as("max_live"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, epoch_us(ts) AS ts_us,
            CAST(round("value" * 100) AS BIGINT) AS cents
          FROM events WHERE "value" IS NOT NULL),
        pts AS (
          SELECT event_type, ts_us AS t, CAST(1 AS BIGINT) AS delta
          FROM ev
          UNION ALL
          SELECT event_type, ts_us + cents * 10000, CAST(-1 AS BIGINT)
          FROM ev),
        swept AS (
          SELECT event_type,
            CAST(SUM(delta) OVER (PARTITION BY event_type
              ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS live
          FROM pts)
        SELECT event_type,
          CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals,
          MAX(live) AS max_live
        FROM swept GROUP BY event_type""")),

    // ---- q165: equi-depth histogram WITHOUT a global sort — the
    //      boundaries are the i·n/8-th order statistics for i=1..7,
    //      each found by [[graft.operators.DistributedSelect]]
    //      (histogram-narrowing selection; counts move, data never
    //      shuffles), then one binning aggregate against the 7
    //      broadcast boundary literals. ntile() would need one
    //      total-order exchange of every row — the classic scale
    //      anti-pattern this operator replaces. Value-based bins
    //      (boundary ties stay in the lower bin), so counts are
    //      deterministic under duplicates. The ORACLE side sorts;
    //      hash equality proves selection == sort again at the
    //      whole-histogram grain. ----
    QueryDef(
      "q165_equidepth_hist",
      (s, d) => {
        // NOT spread: a keyed repartition before the persist was
        // A/B-measured slightly SLOWER in the same-window suite
        // (1.59 → 1.71 s at sf0.1) — the narrowing passes aggregate
        // tiny amounts per round, so the exchange never pays for
        // itself. Reverted r13.
        val ev = t(s, d, "events")
          .select(round(col("value") * 100).cast("long").as("c"))
          .filter(col("c").isNotNull)
          .persist()
        try {
          val n = ev.count()
          val bounds = DistributedSelect.kthSmallestMulti(
            ev, col("c"), (1 to 7).map(i => math.max(1L, i.toLong * n / 8)))
          val bArr = array(bounds.map(lit(_)): _*)
          ev
            .withColumn("bin",
              (size(filter(bArr, b => b < col("c"))) + 1).cast("long"))
            .groupBy("bin")
            .agg(count(lit(1)).as("cnt"), min(col("c")).as("lo_c"),
              max(col("c")).as("hi_c"))
        } finally ev.unpersist()
      },
      Some("""
        WITH v AS (
          SELECT CAST(round("value" * 100) AS BIGINT) AS c
          FROM events WHERE "value" IS NOT NULL),
        nn AS (SELECT COUNT(*) AS n FROM v),
        r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v),
        b AS (
          SELECT i.i AS i, r.c AS t
          FROM generate_series(1, 7) AS i(i)
          CROSS JOIN nn
          JOIN r ON r.rn = greatest(1, (i.i * nn.n) // 8)),
        bl AS (SELECT list(t ORDER BY i) AS ts FROM b),
        binned AS (
          SELECT c,
            CAST(1 + len(list_filter((SELECT ts FROM bl), t -> t < c))
              AS BIGINT) AS bin
          FROM v)
        SELECT bin, COUNT(*) AS cnt,
          MIN(c) AS lo_c, MAX(c) AS hi_c
        FROM binned GROUP BY bin""")),

    // ---- q170: forward fill (last-observation-carried-forward) —
    //      the sensor-gap / sparse-CDC repair operator. Every 7th
    //      event's reading is masked to NULL, then repaired with
    //      last(_, ignoreNulls) over the running per-user frame;
    //      users whose FIRST readings are masked stay at the -1
    //      sentinel (nothing to carry), keeping the output NULL-free
    //      int64. Scale: one per-user window, values never leave
    //      their partition. ----
    QueryDef(
      "q170_forward_fill",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts").as("ts_us"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        ev
          .withColumn("masked",
            when(col("event_id") % 7 === 0, lit(null).cast("long"))
              .otherwise(col("cents")))
          .withColumn("filled",
            coalesce(last(col("masked"), ignoreNulls = true).over(w),
              lit(-1L)))
          .select(col("user_id"), col("ts_us"), col("event_id"),
            (col("event_id") % 7 === 0).cast("long").as("was_masked"),
            col("filled"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts_us, event_id,
            CAST(round("value" * 100) AS BIGINT) AS cents
          FROM events)
        SELECT user_id, ts_us, event_id,
          CAST(event_id % 7 = 0 AS BIGINT) AS was_masked,
          COALESCE(
            last_value(CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE cents END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING),
            -1) AS filled
        FROM ev""")),

    // ---- q171: trimmed mean per group — the robust-statistics
    //      aggregate: drop the lowest and highest 5% of rows by
    //      (value, event_id) rank (fully tie-broken, so the trim is
    //      row-deterministic in both engines), then exact integer
    //      sum/count and ONE identical double division for the mean
    //      (the q49 single-IEEE-op discipline). ----
    QueryDef(
      "q171_trimmed_mean",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("event_type"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .filter(col("cents").isNotNull)
        val w = Window.partitionBy("event_type")
          .orderBy(col("cents"), col("event_id"))
        val ranked = ev
          .withColumn("rn", row_number().over(w).cast("long"))
        val tot = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        ranked.join(broadcast(tot), Seq("event_type"))
          .withColumn("cut", expr("n * 5 div 100"))
          .filter(col("rn") > col("cut") && col("rn") <= col("n") - col("cut"))
          .groupBy("event_type")
          .agg(max(col("n")).as("n_total"),
            count(lit(1)).as("n_kept"),
            sum(col("cents")).as("s_kept"))
          .withColumn("trimmed_mean_cents",
            col("s_kept").cast("double") / col("n_kept").cast("double"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, event_id,
            CAST(round("value" * 100) AS BIGINT) AS cents
          FROM events WHERE "value" IS NOT NULL),
        ranked AS (
          SELECT event_type, cents,
            CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY cents, event_id) AS BIGINT) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM ev),
        kept AS (
          SELECT * FROM ranked
          WHERE rn > n * 5 // 100 AND rn <= n - n * 5 // 100)
        SELECT event_type,
          CAST(MAX(n) AS BIGINT) AS n_total,
          COUNT(*) AS n_kept,
          CAST(SUM(cents) AS BIGINT) AS s_kept,
          CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean_cents
        FROM kept GROUP BY event_type""")),

    // ---- q172: lag-1 autocorrelation sufficient statistics — is the
    //      series mean-reverting or trending? Consecutive (x_t,
    //      x_{t-1}) pairs per type in (ts, event_id) order; all five
    //      moments summed exactly in int64, the final r in ONE
    //      identical double expression with the q49/q79 NULL-on-zero-
    //      variance discipline. ----
    QueryDef(
      "q172_autocorr_stats",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("event_type"), col("ts").as("ts_us"),
            col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .filter(col("cents").isNotNull)
        val w = Window.partitionBy("event_type")
          .orderBy(col("ts_us"), col("event_id"))
        val pairs = ev
          .withColumn("prev", lag(col("cents"), 1).over(w))
          .filter(col("prev").isNotNull)
        val nD = col("n").cast("double")
        pairs.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("cents")).as("sx"),
            sum(col("prev")).as("sy"),
            sum(col("cents") * col("cents")).as("sxx"),
            sum(col("prev") * col("prev")).as("syy"),
            sum(col("cents") * col("prev")).as("sxy"))
          .withColumn("r_qd",
            when(
              sqrt(nD * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
                sqrt(nD * col("syy").cast("double") -
                  col("sy").cast("double") * col("sy").cast("double"))
                =!= 0.0,
              (nD * col("sxy").cast("double") -
                col("sx").cast("double") * col("sy").cast("double")) /
                (sqrt(nD * col("sxx").cast("double") -
                  col("sx").cast("double") * col("sx").cast("double")) *
                  sqrt(nD * col("syy").cast("double") -
                    col("sy").cast("double") * col("sy").cast("double")))))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, epoch_us(ts) AS ts_us, event_id,
            CAST(round("value" * 100) AS BIGINT) AS cents
          FROM events WHERE "value" IS NOT NULL),
        pairs AS (
          SELECT event_type, cents,
            lag(cents) OVER (PARTITION BY event_type
              ORDER BY ts_us, event_id) AS prev
          FROM ev),
        agg AS (
          SELECT event_type, COUNT(*) AS n,
            CAST(SUM(cents) AS BIGINT) AS sx,
            CAST(SUM(prev) AS BIGINT) AS sy,
            CAST(SUM(cents * cents) AS BIGINT) AS sxx,
            CAST(SUM(prev * prev) AS BIGINT) AS syy,
            CAST(SUM(cents * prev) AS BIGINT) AS sxy
          FROM pairs WHERE prev IS NOT NULL GROUP BY 1)
        SELECT event_type, n, sx, sy, sxx, syy, sxy,
          CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <> 0.0
          THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          END AS r_qd
        FROM agg""")),

    // ---- q176: nearest-in-time join (either direction) — q153's
    //      attribution asks "latest prior"; incident correlation asks
    //      "NEAREST, before or after". Composition of the J5 as-of
    //      operator with itself: one backward pass, one forward pass
    //      (the same operator on negated time — no new machinery),
    //      then a per-row pick by |Δt| with earlier-wins ties. Still
    //      two union-window passes, no join explosion. The oracle
    //      does the quadratic per-user candidate join + rank — hash
    //      equality proves the two-pass composition == brute force.
    //      ----
    QueryDef(
      "q176_nearest_event",
      (s, d) => {
        val ev = t(s, d, "events")
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("conv_id"), col("user_id"),
            col("ts").as("ts_us"))
        val touches = ev.filter(col("event_type") =!= "purchase")
          .groupBy(col("user_id"), col("ts").as("ts_us"))
          .agg(min(col("event_id")).as("t_id"))
          .withColumn("t_ts", col("ts_us"))
        val prior = AsOfJoin.priorJoin(conv, touches,
          "user_id", "ts_us", Seq("t_id", "t_ts"))
          .withColumnRenamed("t_id", "p_id")
          .withColumnRenamed("t_ts", "p_ts")
        val negC = conv.withColumn("ts_us", -col("ts_us"))
        val negT = touches.withColumn("ts_us", -col("ts_us"))
        val next = AsOfJoin.priorJoin(negC, negT,
          "user_id", "ts_us", Seq("t_id", "t_ts"))
          .select(col("conv_id"), col("t_id").as("n_id"),
            col("t_ts").as("n_ts"))
        prior.join(next, Seq("conv_id"))
          .filter(col("p_id").isNotNull || col("n_id").isNotNull)
          .withColumn("dp",
            when(col("p_id").isNotNull, col("ts_us") - col("p_ts")))
          .withColumn("dn",
            when(col("n_id").isNotNull, col("n_ts") - col("ts_us")))
          .withColumn("use_prior",
            col("dn").isNull || (col("dp").isNotNull && col("dp") <= col("dn")))
          .select(col("conv_id"), col("user_id"),
            when(col("use_prior"), col("p_id")).otherwise(col("n_id"))
              .as("nearest_id"),
            when(col("use_prior"), col("p_ts")).otherwise(col("n_ts"))
              .as("nearest_ts"),
            when(col("use_prior"), col("dp")).otherwise(col("dn"))
              .as("delta_us"),
            when(col("use_prior"), lit(-1L)).otherwise(lit(1L))
              .as("direction"))
      },
      Some("""
        WITH conv AS (
          SELECT event_id AS conv_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'purchase'),
        touches AS (
          SELECT user_id, epoch_us(ts) AS t_ts,
            MIN(event_id) AS t_id
          FROM events WHERE event_type <> 'purchase'
          GROUP BY user_id, epoch_us(ts)),
        cand AS (
          SELECT c.conv_id, c.user_id, c.ts_us, t.t_id, t.t_ts,
            abs(c.ts_us - t.t_ts) AS ad
          FROM conv c JOIN touches t USING (user_id)),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id
            ORDER BY ad, t_ts) AS rn
          FROM cand)
        SELECT conv_id, user_id, t_id AS nearest_id, t_ts AS nearest_ts,
          ad AS delta_us,
          CASE WHEN t_ts <= ts_us THEN CAST(-1 AS BIGINT)
            ELSE CAST(1 AS BIGINT) END AS direction
        FROM r WHERE rn = 1""")),

    // ---- q181: group-wise linear regression (value vs time) as
    //      EXACT integer sufficient statistics: slope = num/den with
    //      num = n·Σxy − Σx·Σy and den = n·Σxx − (Σx)², both shipped
    //      as int64 (consumers divide at their precision; the one
    //      optional double is the same single expression in both
    //      engines). x is RECENTERED to hours since each group's
    //      minimum — without recentring, n·Σxy on epoch-hour x
    //      overflows int64 three orders earlier. ----
    QueryDef(
      "q181_group_regression",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"),
            expr("ts div 3600000000").as("hour"),
            round(col("value") * 100).cast("long").as("cents"))
          .filter(col("cents").isNotNull)
        val mins = ev.groupBy("event_type").agg(min("hour").as("h0"))
        val xy = ev.join(broadcast(mins), Seq("event_type"))
          .select(col("event_type"),
            (col("hour") - col("h0")).as("x"), col("cents").as("y"))
        xy.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"))
          .withColumn("slope_num",
            col("n") * col("sxy") - col("sx") * col("sy"))
          .withColumn("slope_den",
            col("n") * col("sxx") - col("sx") * col("sx"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
            CAST(round("value" * 100) AS BIGINT) AS cents
          FROM events WHERE "value" IS NOT NULL),
        mins AS (
          SELECT event_type, MIN(hour) AS h0 FROM ev GROUP BY 1),
        xy AS (
          SELECT e.event_type, e.hour - m.h0 AS x, e.cents AS y
          FROM ev e JOIN mins m USING (event_type)),
        agg AS (
          SELECT event_type, COUNT(*) AS n,
            CAST(SUM(x) AS BIGINT) AS sx,
            CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(x * x) AS BIGINT) AS sxx,
            CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM xy GROUP BY 1)
        SELECT event_type, n, sx, sy, sxx, sxy,
          n * sxy - sx * sy AS slope_num,
          n * sxx - sx * sx AS slope_den
        FROM agg""")),

    // ---- q182: ordered sequence-pattern matching (CEP) — count
    //      contiguous (view|click) → * → purchase triples completing
    //      within 24 hours per user: two lags over the per-user time
    //      order, a type-pattern gate, and the window constraint. The
    //      complex-event-processing shape (q126's funnel counts
    //      STAGES; this matches CONTIGUOUS ordered triples — ~500
    //      matches at sf0.01, ~5k at sf0.1, so the oracle row is
    //      load-bearing, not vacuously empty). ----
    QueryDef(
      "q182_pattern_match",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts").as("ts_us"),
            col("event_id"), col("event_type"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_us"), col("event_id"))
        val hits = ev
          .withColumn("t2", lag(col("event_type"), 2).over(w))
          .withColumn("ts2", lag(col("ts_us"), 2).over(w))
          .filter(col("event_type") === "purchase" &&
            col("t2").isin("view", "click") &&
            col("ts_us") - col("ts2") <= 86400000000L)
        hits.groupBy("user_id")
          .agg(count(lit(1)).as("n_matches"),
            min(col("ts_us")).as("first_match_ts"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
          FROM events),
        lagged AS (
          SELECT user_id, ts_us, event_type,
            lag(event_type, 2) OVER w AS t2,
            lag(ts_us, 2) OVER w AS ts2
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        SELECT user_id, COUNT(*) AS n_matches,
          MIN(ts_us) AS first_match_ts
        FROM lagged
        WHERE event_type = 'purchase' AND t2 IN ('view', 'click')
          AND ts_us - ts2 <= 86400000000
        GROUP BY user_id""")),

    // ---- q183: inter-arrival spectrum — the traffic-model /
    //      burstiness audit: per-type gaps between consecutive
    //      events, bucketed by bit length (log2 bands — exact
    //      integers via the binary-string trick, no float log), with
    //      per-band counts and extremes. ----
    QueryDef(
      "q183_interarrival",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("event_type"), col("ts").as("ts_us"),
            col("event_id"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("ts_us"), col("event_id"))
        val gaps = ev
          .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
          .filter(col("gap").isNotNull && col("gap") >= 0)
        gaps
          .withColumn("band",
            when(col("gap") === 0, 0L)
              .otherwise(length(bin(col("gap"))).cast("long")))
          .groupBy("event_type", "band")
          .agg(count(lit(1)).as("n"),
            min(col("gap")).as("min_gap_us"),
            max(col("gap")).as("max_gap_us"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, epoch_us(ts) AS ts_us, event_id
          FROM events),
        gaps AS (
          SELECT event_type,
            ts_us - lag(ts_us, 1) OVER (PARTITION BY event_type
              ORDER BY ts_us, event_id) AS gap
          FROM ev)
        SELECT event_type,
          CASE WHEN gap = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(length(bin(gap)) AS BIGINT) END AS band,
          COUNT(*) AS n,
          CAST(MIN(gap) AS BIGINT) AS min_gap_us,
          CAST(MAX(gap) AS BIGINT) AS max_gap_us
        FROM gaps WHERE gap IS NOT NULL AND gap >= 0
        GROUP BY 1, 2""")),

    // ---- q184: session bounce / depth profile — reuses the J-family
    //      Sessionize operator (2h gap): per session its event count,
    //      then per user the session total, bounce count (single-
    //      event sessions) and exact integer bounce ppm — the
    //      engagement-quality metric every funnel report leads with.
    //      ----
    QueryDef(
      "q184_bounce_rate",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts").as("ts_us"), col("event_id"))
        val sess = Sessionize.withSessionId(
          ev, "user_id", col("ts_us"), col("event_id"), SessionGapUs)
        val perSession = sess.groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"))
        perSession.groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_events") === 1, 1L).otherwise(0L))
              .as("n_bounces"),
            max(col("n_events")).as("deepest_session"))
          .withColumn("bounce_ppm",
            expr("n_bounces * 1000000 div n_sessions"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
        flagged AS (
          SELECT user_id, ts_us, event_id,
            CASE WHEN lag(ts_us) OVER w IS NULL
              OR ts_us - lag(ts_us) OVER w > 7200000000
              THEN 1 ELSE 0 END AS is_new
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        sess AS (
          SELECT user_id,
            CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS session_id
          FROM flagged),
        per_session AS (
          SELECT user_id, session_id, COUNT(*) AS n_events
          FROM sess GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_sessions,
          CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_bounces,
          CAST(MAX(n_events) AS BIGINT) AS deepest_session,
          CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
            * 1000000 // COUNT(*) AS bounce_ppm
        FROM per_session GROUP BY user_id""")),

    // ---- q188: mix-shift decomposition — "did the average move
    //      because groups changed, or because the MIX of groups
    //      changed?" Between snapshot A (even event_id) and B (odd),
    //      per type: counts and exact cent sums for both, plus the
    //      within-group effect numerator s_b·n_a − s_a·n_b (zero iff
    //      the group's own mean is unchanged; cross-multiplied so no
    //      division crosses the engines). The analytics-engineering
    //      staple behind every "why did the KPI move" drill-down. ----
    QueryDef(
      "q188_mix_shift",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .filter(col("cents").isNotNull)
        ev.groupBy("event_type")
          .agg(
            sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L))
              .as("n_a"),
            sum(when(col("event_id") % 2 === 0, col("cents"))
              .otherwise(0L)).as("s_a"),
            sum(when(col("event_id") % 2 === 1, 1L).otherwise(0L))
              .as("n_b"),
            sum(when(col("event_id") % 2 === 1, col("cents"))
              .otherwise(0L)).as("s_b"))
          .withColumn("within_num",
            col("s_b") * col("n_a") - col("s_a") * col("n_b"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, event_id,
            CAST(round("value" * 100) AS BIGINT) AS cents
          FROM events WHERE "value" IS NOT NULL)
        SELECT event_type,
          CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_a,
          CAST(SUM(CASE WHEN event_id % 2 = 0 THEN cents ELSE 0 END)
            AS BIGINT) AS s_a,
          CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_b,
          CAST(SUM(CASE WHEN event_id % 2 = 1 THEN cents ELSE 0 END)
            AS BIGINT) AS s_b,
          CAST(SUM(CASE WHEN event_id % 2 = 1 THEN cents ELSE 0 END)
              AS BIGINT)
            * CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT)
          - CAST(SUM(CASE WHEN event_id % 2 = 0 THEN cents ELSE 0 END)
              AS BIGINT)
            * CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS within_num
        FROM ev GROUP BY event_type""")),

    // ---- q189: new-vs-returning decomposition per day — each event
    //      classified by whether its user was first seen that day
    //      (min-day broadcast join; the first-touch attribution of
    //      audience growth). Daily counts of new/returning users and
    //      events — the DAU decomposition every growth report leads
    //      with. ----
    QueryDef(
      "q189_new_returning",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), expr("ts div 86400000000").as("day"))
        val firstDay = ev.groupBy("user_id").agg(min("day").as("d0"))
        ev.join(firstDay, Seq("user_id"))
          .withColumn("is_new", (col("day") === col("d0")).cast("long"))
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            sum(col("is_new")).as("n_new_user_events"),
            countDistinct(col("user_id")).as("n_users"),
            countDistinct(when(col("is_new") === 1L, col("user_id")))
              .as("n_new_users"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) // 86400000000 AS day
          FROM events),
        fd AS (SELECT user_id, MIN(day) AS d0 FROM ev GROUP BY 1)
        SELECT ev.day,
          COUNT(*) AS n_events,
          CAST(SUM(CASE WHEN ev.day = fd.d0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new_user_events,
          COUNT(DISTINCT ev.user_id) AS n_users,
          COUNT(DISTINCT CASE WHEN ev.day = fd.d0 THEN ev.user_id END)
            AS n_new_users
        FROM ev JOIN fd USING (user_id)
        GROUP BY ev.day""")),

    // ---- q193: U-shaped multi-touch attribution — q153 credits the
    //      LAST touch; the position-weighted model gives 40% to the
    //      first touch, 40% to the last, and splits 20% across the
    //      middle. Weights are integer ppm with the SAME integer
    //      division on both sides (200000 div (n−2) — deterministic
    //      cross-engine even where inexact), single-touch paths get
    //      the full 1e6. Touch sets are the prior-24h window per
    //      conversion; per touch type the total attributed ppm and
    //      path counts. ----
    QueryDef(
      "q193_position_attribution",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("conv_id"), col("user_id"),
            col("ts").as("c_ts"))
        val touch = ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("ts").as("t_ts"),
            col("event_id").as("t_id"), col("event_type").as("t_type"))
        val paths = conv.join(touch, Seq("user_id"))
          .filter(col("t_ts") <= col("c_ts") &&
            col("c_ts") - col("t_ts") <= 86400000000L)
        val w = Window.partitionBy("conv_id")
          .orderBy(col("t_ts"), col("t_id"))
        val sized = paths
          .withColumn("pos", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1))
            .over(Window.partitionBy("conv_id")))
        val weighted = sized.withColumn("w_ppm",
          when(col("n") === 1, 1000000L)
            .when(col("pos") === 1, 400000L)
            .when(col("pos") === col("n"), 400000L)
            .otherwise(expr("200000 div (n - 2)")))
        weighted.groupBy("t_type")
          .agg(count(lit(1)).as("n_touches"),
            sum(col("w_ppm")).as("attributed_ppm"),
            countDistinct(col("conv_id")).as("n_paths"))
      },
      Some("""
        WITH conv AS (
          SELECT event_id AS conv_id, user_id, epoch_us(ts) AS c_ts
          FROM events WHERE event_type = 'purchase'),
        touch AS (
          SELECT user_id, epoch_us(ts) AS t_ts, event_id AS t_id,
            event_type AS t_type
          FROM events WHERE event_type <> 'purchase'),
        paths AS (
          SELECT c.conv_id, t.t_ts, t.t_id, t.t_type
          FROM conv c JOIN touch t USING (user_id)
          WHERE t.t_ts <= c.c_ts AND c.c_ts - t.t_ts <= 86400000000),
        sized AS (
          SELECT conv_id, t_type,
            CAST(row_number() OVER (PARTITION BY conv_id
              ORDER BY t_ts, t_id) AS BIGINT) AS pos,
            COUNT(*) OVER (PARTITION BY conv_id) AS n
          FROM paths),
        weighted AS (
          SELECT conv_id, t_type,
            CASE WHEN n = 1 THEN CAST(1000000 AS BIGINT)
              WHEN pos = 1 THEN 400000
              WHEN pos = n THEN 400000
              ELSE 200000 // (n - 2) END AS w_ppm
          FROM sized)
        SELECT t_type, COUNT(*) AS n_touches,
          CAST(SUM(w_ppm) AS BIGINT) AS attributed_ppm,
          COUNT(DISTINCT conv_id) AS n_paths
        FROM weighted GROUP BY t_type""")),

    // ---- q194: OHLC candles per (type, hour) — the market-data
    //      aggregate: open/close by fully tie-broken first/last row,
    //      high/low/volume exact. first_value/last_value over the
    //      (ts, event_id) order inside each candle; all integers. ----
    QueryDef(
      "q194_ohlc_candles",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("event_type"),
            expr("ts div 3600000000").as("hour"),
            col("ts").as("ts_us"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .filter(col("cents").isNotNull)
        val w = Window.partitionBy("event_type", "hour")
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ev
          .withColumn("open_c", first(col("cents")).over(w))
          .withColumn("close_c", last(col("cents")).over(w))
          .groupBy("event_type", "hour")
          .agg(count(lit(1)).as("n"),
            max(col("open_c")).as("open_cents"),
            max(col("cents")).as("high_cents"),
            min(col("cents")).as("low_cents"),
            max(col("close_c")).as("close_cents"),
            sum(col("cents")).as("volume_cents"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
            epoch_us(ts) AS ts_us, event_id,
            CAST(round("value" * 100) AS BIGINT) AS cents
          FROM events WHERE "value" IS NOT NULL),
        win AS (
          SELECT event_type, hour, cents,
            first_value(cents) OVER w AS open_c,
            last_value(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
              AND UNBOUNDED FOLLOWING) AS close_c
          FROM ev
          WINDOW w AS (PARTITION BY event_type, hour
            ORDER BY ts_us, event_id))
        SELECT event_type, hour, COUNT(*) AS n,
          CAST(MAX(open_c) AS BIGINT) AS open_cents,
          CAST(MAX(cents) AS BIGINT) AS high_cents,
          CAST(MIN(cents) AS BIGINT) AS low_cents,
          CAST(MAX(close_c) AS BIGINT) AS close_cents,
          CAST(SUM(cents) AS BIGINT) AS volume_cents
        FROM win GROUP BY 1, 2""")),

    // ---- q203: monotone runs (gaps-and-islands over a comparison) —
    //      longest strictly-increasing streak of the metric per user in
    //      event order: lag-compare marks run breaks, the running sum
    //      of breaks labels islands, islands aggregate to lengths, and
    //      per-user max/count close it out. The streak/momentum shape
    //      (login streaks, rising-price runs) that needs three stacked
    //      windows — all partitioned by user, so ONE keyed exchange
    //      serves every stage at any scale (windows 2 and 3 reuse the
    //      partitioning of window 1). ----
    QueryDef(
      "q203_monotone_runs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
        ev
          .withColumn("brk",
            when(lag(col("cents"), 1).over(w).isNull ||
              col("cents") <= lag(col("cents"), 1).over(w), 1L)
              .otherwise(0L))
          .withColumn("island",
            sum(col("brk")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "island")
          .agg(count(lit(1)).as("run_len"))
          .groupBy("user_id")
          .agg(max(col("run_len")).as("longest_run"),
            count(lit(1)).as("n_runs"),
            sum(when(col("run_len") >= 3, 1L).otherwise(0L))
              .as("n_runs_ge3"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts, event_id,
            CAST(round("value" * 100) AS BIGINT) AS cents
          FROM events),
        b AS (
          SELECT user_id, ts, event_id, cents,
            CASE WHEN lag(cents) OVER w IS NULL
                   OR cents <= lag(cents) OVER w
              THEN 1 ELSE 0 END AS brk
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        isl AS (
          SELECT user_id,
            CAST(SUM(brk) OVER (PARTITION BY user_id
              ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS island
          FROM b),
        runs AS (
          SELECT user_id, island, COUNT(*) AS run_len
          FROM isl GROUP BY 1, 2)
        SELECT user_id, CAST(MAX(run_len) AS BIGINT) AS longest_run,
          COUNT(*) AS n_runs,
          CAST(SUM(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_runs_ge3
        FROM runs GROUP BY user_id""")),

    // ---- q204: rolling median (robust smoothing) — the lower-median
    //      element over a BOUNDED 15-row trailing frame per type. Both
    //      sides pick the identical element by the identical formula —
    //      sorted_frame[(n+1) div 2] — instead of trusting two engines'
    //      windowed-quantile conventions to agree. Frame is ROWS-bounded,
    //      so per-row cost is O(15 log 15) at any scale and the window
    //      stays keyed by type. The despiking pass a metrics pipeline
    //      runs before thresholding. ----
    QueryDef(
      "q204_rolling_median",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-14, Window.currentRow)
        t(s, d, "events")
          .select(col("event_type"), col("ts"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .withColumn("frame", sort_array(collect_list(col("cents")).over(w)))
          .select(col("event_type"), col("event_id"), col("cents"),
            element_at(col("frame"), ((size(col("frame")) + 1) / 2)
              .cast("int")).as("med15_cents"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, epoch_us(ts) AS ts, event_id,
            CAST(round("value" * 100) AS BIGINT) AS cents
          FROM events),
        f AS (
          SELECT event_type, event_id, cents,
            list_sort(list(cents) OVER (PARTITION BY event_type
              ORDER BY ts, event_id
              ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)) AS frame
          FROM ev)
        SELECT event_type, event_id, cents,
          frame[(len(frame) + 1) // 2] AS med15_cents
        FROM f""")),

    // ---- q205: interval-overlap join — per-user daily activity spans
    //      against a derived promo-window calendar (3 fixed windows per
    //      UTC day-index): exposure µs = Σ max(0, min(ends) − max
    //      (starts)). The span table is one keyed aggregate; the promo
    //      calendar is distinct-days × 3 (bounded, broadcast); overlap
    //      itself is pure row arithmetic. The campaign-exposure /
    //      maintenance-window attribution shape — never an inequality
    //      join: intervals meet on the DAY equi-key. ----
    QueryDef(
      "q205_interval_overlap",
      (s, d) => {
        val DayUs = 86400000000L
        val HourUs = 3600000000L
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts"),
            expr(s"ts div $DayUs").as("day"))
        val spans = ev.groupBy("user_id", "day")
          .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
        val promos = ev.select(col("day")).distinct()
          .crossJoin(broadcast(
            ev.sparkSession.range(3).select(col("id").as("w"))))
          .select(col("day"),
            (col("day") * DayUs + (col("w") * 8 + 2) * HourUs).as("ps"),
            (col("day") * DayUs + (col("w") * 8 + 4) * HourUs).as("pe"))
        spans.join(broadcast(promos), Seq("day"))
          .withColumn("ov",
            greatest(lit(0L),
              least(col("e"), col("pe")) - greatest(col("s"), col("ps"))))
          .groupBy("user_id")
          .agg(sum(col("ov")).as("exposed_us"),
            sum(when(col("ov") > 0, 1L).otherwise(0L)).as("n_windows_hit"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts,
            epoch_us(ts) // 86400000000 AS day
          FROM events),
        spans AS (
          SELECT user_id, day, MIN(ts) AS s, MAX(ts) AS e
          FROM ev GROUP BY 1, 2),
        promos AS (
          SELECT day,
            day * 86400000000 + (w * 8 + 2) * 3600000000 AS ps,
            day * 86400000000 + (w * 8 + 4) * 3600000000 AS pe
          FROM (SELECT DISTINCT day FROM ev),
            (SELECT unnest(range(0, 3)) AS w)),
        j AS (
          SELECT user_id,
            greatest(0, least(e, pe) - greatest(s, ps)) AS ov
          FROM spans JOIN promos USING (day))
        SELECT user_id, CAST(SUM(ov) AS BIGINT) AS exposed_us,
          CAST(SUM(CASE WHEN ov > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_windows_hit
        FROM j GROUP BY user_id""")),

    // ---- q210: seasonal-naive backtest — forecast(t) = actual(t−24h)
    //      on the hourly per-type revenue series, scored by integer
    //      absolute error. The self-join is an EQUI-join on the lagged
    //      hour index (never an inequality join); the series is already
    //      the (type, hour) aggregate, so the join input is bounded by
    //      the bucket domain, not the event count. The baseline every
    //      forecasting pipeline must beat — and the op that needs only
    //      integer arithmetic to cross-check. ----
    QueryDef(
      "q210_seasonal_backtest",
      (s, d) => {
        val HourUs = 3600000000L
        val series = t(s, d, "events")
          .select(col("event_type"), expr(s"ts div $HourUs").as("hb"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy("event_type", "hb")
          .agg(sum(col("cents")).as("s"))
        val prev = series.select(col("event_type"),
          (col("hb") + 24).as("hb"), col("s").as("s_prev"))
        series.join(prev, Seq("event_type", "hb"))
          .withColumn("abs_err", abs(col("s") - col("s_prev")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_buckets"),
            sum(col("abs_err")).as("total_abs_err"),
            max(col("abs_err")).as("max_abs_err"),
            sum(col("s")).as("total_actual"))
      },
      Some("""
        WITH series AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS hb,
            CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT)
              AS s
          FROM events GROUP BY 1, 2),
        j AS (
          SELECT c.event_type, abs(c.s - p.s) AS abs_err, c.s
          FROM series c JOIN series p
            ON c.event_type = p.event_type AND c.hb = p.hb + 24)
        SELECT event_type, COUNT(*) AS n_buckets,
          CAST(SUM(abs_err) AS BIGINT) AS total_abs_err,
          CAST(MAX(abs_err) AS BIGINT) AS max_abs_err,
          CAST(SUM(s) AS BIGINT) AS total_actual
        FROM j GROUP BY event_type""")),

    // ---- q212: bounded geometric adstock — marketing-mix carryover
    //      Σ_{k=0..8} spend(t−k)·2^(8−k) over the observed bucket
    //      sequence, as a SCALED INTEGER (decay 1/2 per step, ×256):
    //      dyadic weights make the decayed sum exact in any engine.
    //      Nine lags in ONE type-keyed window (Spark collapses them
    //      into a single Window operator over one sort) — the bounded-
    //      memory form of an "iterative" decay recursion. ----
    QueryDef(
      "q212_adstock_decay",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val HourUs = 3600000000L
        val w = Window.partitionBy("event_type").orderBy(col("hb"))
        val series = t(s, d, "events")
          .select(col("event_type"), expr(s"ts div $HourUs").as("hb"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy("event_type", "hb")
          .agg(sum(col("cents")).as("s"))
        val adstock = (0 to 8).map { k =>
          coalesce(lag(col("s"), k).over(w), lit(0L)) *
            lit(1L << (8 - k))
        }.reduce(_ + _)
        series.withColumn("adstock_x256", adstock)
          .select("event_type", "hb", "s", "adstock_x256")
      },
      Some("""
        WITH series AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS hb,
            CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT)
              AS s
          FROM events GROUP BY 1, 2)
        SELECT event_type, hb, s,
          COALESCE(lag(s, 0) OVER w, 0) * 256
          + COALESCE(lag(s, 1) OVER w, 0) * 128
          + COALESCE(lag(s, 2) OVER w, 0) * 64
          + COALESCE(lag(s, 3) OVER w, 0) * 32
          + COALESCE(lag(s, 4) OVER w, 0) * 16
          + COALESCE(lag(s, 5) OVER w, 0) * 8
          + COALESCE(lag(s, 6) OVER w, 0) * 4
          + COALESCE(lag(s, 7) OVER w, 0) * 2
          + COALESCE(lag(s, 8) OVER w, 0) AS adstock_x256
        FROM series
        WINDOW w AS (PARTITION BY event_type ORDER BY hb)""")),

    // ---- q218: late-arrival audit — the measurement that SIZES a
    //      streaming watermark: lateness(e) = (running max event-time
    //      seen at e's arrival) − e's own event-time. The driver's
    //      events arrive exactly in event-time order, so arrival order
    //      is simulated with a deterministic jitter permutation
    //      (arrival = id + (id mod 7)·3, the shape a sharded producer
    //      injects). Per source: late fraction, worst lateness, and
    //      disc percentiles of the late tail (cast long, the q153
    //      discipline) = the delay budget that bounds state retention.
    //      One source-keyed window + one combinable aggregate. ----
    QueryDef(
      "q218_late_arrival_audit",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type")
          .orderBy("arrival", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .select(col("event_type"), col("event_id"), col("ts"))
          .withColumn("arrival",
            col("event_id") + (col("event_id") % 7) * 3)
          .withColumn("late_us", max(col("ts")).over(w) - col("ts"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum((col("late_us") > 0).cast("long")).as("n_late"),
            max(col("late_us")).as("max_late_us"),
            expr("percentile_disc(0.5) WITHIN GROUP " +
              "(ORDER BY CASE WHEN late_us > 0 THEN late_us END)")
              .cast("long").as("p50_late_us"),
            expr("percentile_disc(0.95) WITHIN GROUP " +
              "(ORDER BY CASE WHEN late_us > 0 THEN late_us END)")
              .cast("long").as("p95_late_us"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, event_id, epoch_us(ts) AS ts,
            event_id + (event_id % 7) * 3 AS arrival
          FROM events),
        l AS (
          SELECT event_type,
            MAX(ts) OVER (PARTITION BY event_type
              ORDER BY arrival, event_id
              ROWS UNBOUNDED PRECEDING) - ts AS late_us
          FROM ev)
        SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_late,
          CAST(MAX(late_us) AS BIGINT) AS max_late_us,
          quantile_disc(CASE WHEN late_us > 0 THEN late_us END, 0.5)
            AS p50_late_us,
          quantile_disc(CASE WHEN late_us > 0 THEN late_us END, 0.95)
            AS p95_late_us
        FROM l GROUP BY event_type""")),

    // ---- q220: conversion survival table — of users who signed up,
    //      how many purchased within k days (k = 0..13)? Per-user
    //      first-signup / first-subsequent-purchase reduce to one row
    //      per user; the 14-row horizon table rides a broadcast and
    //      the curve is one combinable aggregate per k. The
    //      time-to-event readout (activation, payback, SLA breach)
    //      with censoring made explicit — n_pending is the
    //      still-unconverted tail, never silently dropped. ----
    QueryDef(
      "q220_conversion_survival",
      (s, d) => {
        val DayUs = 86400000000L
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val su = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
        val pu = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"))
        val delta = su.join(pu, Seq("user_id"), "left")
          .groupBy("user_id", "s_ts")
          .agg(min(when(col("p_ts") >= col("s_ts"), col("p_ts")))
            .as("first_p"))
          .withColumn("delta_day",
            expr(s"(first_p - s_ts) div $DayUs"))
        val ks = ev.sparkSession.range(0, 14).select(col("id").as("k"))
        delta.crossJoin(broadcast(ks))
          .groupBy("k")
          .agg(count(lit(1)).as("n_signups"),
            sum((col("delta_day").isNotNull &&
              col("delta_day") <= col("k")).cast("long"))
              .as("n_converted_by_k"))
          .withColumn("n_pending",
            col("n_signups") - col("n_converted_by_k"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts FROM events),
        su AS (
          SELECT user_id, MIN(ts) AS s_ts FROM ev
          WHERE event_type = 'signup' GROUP BY 1),
        pu AS (
          SELECT user_id, ts AS p_ts FROM ev
          WHERE event_type = 'purchase'),
        delta AS (
          SELECT su.user_id, su.s_ts,
            (MIN(CASE WHEN pu.p_ts >= su.s_ts THEN pu.p_ts END)
              - su.s_ts) // 86400000000 AS delta_day
          FROM su LEFT JOIN pu ON su.user_id = pu.user_id
          GROUP BY 1, 2),
        ks AS (SELECT unnest(range(0, 14)) AS k)
        SELECT k, COUNT(*) AS n_signups,
          CAST(SUM(CASE WHEN delta_day IS NOT NULL AND delta_day <= k
            THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_by_k,
          COUNT(*) - CAST(SUM(CASE WHEN delta_day IS NOT NULL
            AND delta_day <= k THEN 1 ELSE 0 END) AS BIGINT)
            AS n_pending
        FROM delta, ks GROUP BY k""")),

    // ---- q226: DAU/MAU stickiness — the growth metric, computed
    //      WITHOUT a sliding distinct: each (user, active-day) row
    //      fans out to the 30 trailing windows it counts toward
    //      (bounded ×30 on the ALREADY-DEDUPED user-day table, not on
    //      events), so MAU is an ordinary combinable distinct count
    //      per window day. Window days clip to the observed range via
    //      a one-row broadcast. stickiness = DAU·1e6 div MAU, exact
    //      integers. ----
    QueryDef(
      "q226_stickiness",
      (s, d) => {
        val ud = t(s, d, "events")
          .select(col("user_id"), expr("ts div 86400000000").as("day"))
          .distinct()
        val rng = ud.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
        val mau = ud
          .select(col("user_id"),
            explode(sequence(col("day"), col("day") + 29)).as("wday"))
          .distinct()
          .crossJoin(broadcast(rng))
          .filter(col("wday") <= col("hi"))
          .groupBy("wday")
          .agg(count(lit(1)).as("mau"))
        dau.join(mau, dau("day") === mau("wday"))
          .select(col("day"), col("dau"), col("mau"),
            expr("dau * 1000000 div mau").as("stickiness_ppm"))
      },
      Some("""
        WITH ud AS (
          SELECT DISTINCT user_id,
            epoch_us(ts) // 86400000000 AS day
          FROM events),
        rng AS (SELECT MAX(day) AS hi FROM ud),
        dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
        mem AS (
          SELECT DISTINCT user_id, day + w AS wday
          FROM ud, (SELECT unnest(range(0, 30)) AS w)),
        mau AS (
          SELECT wday, COUNT(*) AS mau
          FROM mem, rng WHERE wday <= hi GROUP BY 1)
        SELECT day, dau, mau, dau * 1000000 // mau AS stickiness_ppm
        FROM dau JOIN mau ON dau.day = mau.wday""")),

    // ---- q223: last-non-direct-click attribution — the GA-classic
    //      rule (q148/q193 cover linear and U-shaped): each purchase
    //      credits the most recent NON-direct touch within a 7-day
    //      lookback; direct-only journeys fall back to 'direct'. The
    //      non-direct restriction happens by FILTERING the touch side
    //      BEFORE the as-of join — rule changes never change the join
    //      shape (one user-keyed as-of pass, q45 machinery). Channels
    //      derive deterministically from event ids so both engines
    //      attribute the identical journey set. ----
    QueryDef(
      "q223_last_nondirect",
      (s, d) => {
        val LookbackUs = 604800000000L // 7 days
        val channel = expr(
          """CASE event_id % 5 WHEN 0 THEN 'direct' WHEN 1 THEN 'email'
             WHEN 2 THEN 'social' WHEN 3 THEN 'search'
             ELSE 'ads' END""")
        val ev = t(s, d, "events")
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("conv_id"), col("user_id"),
            col("ts").as("ts_us"),
            round(col("value") * 100).cast("long").as("cents"))
        val touches = ev.filter(col("event_type") =!= "purchase")
          .withColumn("channel", channel)
          .filter(col("channel") =!= "direct")
          .groupBy(col("user_id"), col("ts").as("ts_us"))
          .agg(min(col("event_id")).as("touch_id"))
          .withColumn("touch_ts", col("ts_us"))
        AsOfJoin.priorJoin(conv, touches, "user_id", "ts_us",
          Seq("touch_id", "touch_ts"))
          .withColumn("credited",
            col("touch_id").isNotNull &&
              col("ts_us") - col("touch_ts") <= LookbackUs)
          .join(ev.select(col("event_id").as("touch_id"),
            channel.as("tch")), Seq("touch_id"), "left")
          .withColumn("channel",
            when(col("credited"), col("tch")).otherwise(lit("direct")))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_conversions"),
            sum(col("cents")).as("credited_cents"))
      },
      Some("""
        WITH ev AS (
          SELECT event_id, user_id, event_type, epoch_us(ts) AS ts,
            CAST(round("value" * 100) AS BIGINT) AS cents,
            CASE event_id % 5 WHEN 0 THEN 'direct' WHEN 1 THEN 'email'
              WHEN 2 THEN 'social' WHEN 3 THEN 'search'
              ELSE 'ads' END AS channel
          FROM events),
        conv AS (
          SELECT event_id AS conv_id, user_id, ts AS ts_us, cents
          FROM ev WHERE event_type = 'purchase'),
        touches AS (
          SELECT user_id, ts AS ts_us, MIN(event_id) AS touch_id,
            ts AS touch_ts
          FROM ev
          WHERE event_type <> 'purchase' AND channel <> 'direct'
          GROUP BY user_id, ts),
        j AS (
          SELECT c.conv_id, c.cents, c.ts_us, t.touch_id, t.touch_ts
          FROM conv c ASOF LEFT JOIN touches t
            ON c.user_id = t.user_id AND c.ts_us >= t.ts_us),
        credited AS (
          SELECT j.*,
            CASE WHEN j.touch_id IS NOT NULL
                   AND j.ts_us - j.touch_ts <= 604800000000
              THEN e.channel ELSE 'direct' END AS channel
          FROM j LEFT JOIN ev e ON j.touch_id = e.event_id)
        SELECT channel, COUNT(*) AS n_conversions,
          CAST(SUM(cents) AS BIGINT) AS credited_cents
        FROM credited GROUP BY channel""")),

    // ---- q227: interval-overlap join — which user sessions overlap
    //      platform incident windows (≥2 errors in a 30-min bucket),
    //      and for how long? [[graft.operators.IntervalOverlap]] bins
    //      both interval sets to 1-hour keys and equi-joins each pair
    //      in its first shared bin — the inequality predicate never
    //      reaches the planner, so there is no nested-loop/cartesian
    //      anywhere (plan-asserted in IntervalOverlapSpec), and no
    //      Distinct: session and incident ids are unique, so each
    //      overlapping pair is one row. The session id packs (user, seq) into
    //      one long (seq < 1e6 per user — a session per µs would be
    //      needed to break it). The incident-impact readout an SRE
    //      postmortem joins against. ----
    QueryDef(
      "q227_session_incidents",
      (s, d) => {
        val IncidentW = 1800000000L // 30-min incident buckets
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
        val sess = graft.operators.Sessionize
          .withSessionId(ev, "user_id", col("ts"), col("event_id"),
            SessionGapUs)
          .groupBy("user_id", "session_id")
          .agg(min(col("ts")).as("a_s"),
            (max(col("ts")) + 1).as("a_e"))
          .select((col("user_id") * 1000000 + col("session_id"))
            .as("a_id"), col("a_s"), col("a_e"))
        val incidents = ev.filter(col("event_type") === "error")
          .select(expr(s"ts div $IncidentW").as("bk"))
          .groupBy("bk").agg(count(lit(1)).as("n_err"))
          .filter(col("n_err") >= 2)
          .select(col("bk").as("b_id"),
            (col("bk") * IncidentW).as("b_s"),
            ((col("bk") + 1) * IncidentW).as("b_e"))
        graft.operators.IntervalOverlap
          .pairs(sess, incidents, binUs = 3600000000L)
          .groupBy("a_id")
          .agg(count(lit(1)).as("n_incidents"),
            sum(col("overlap_us")).as("overlap_us"))
          .select(expr("a_id div 1000000").as("user_id"),
            (col("a_id") % 1000000).as("session_id"),
            col("n_incidents"), col("overlap_us"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts, event_id, event_type
          FROM events),
        o AS (
          SELECT user_id, ts, event_id, event_type,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > 7200000000
              THEN 1 ELSE 0 END AS is_new
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sx AS (
          SELECT user_id, ts,
            CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS session_id
          FROM o),
        sess AS (
          SELECT user_id, session_id, MIN(ts) AS a_s, MAX(ts) + 1 AS a_e
          FROM sx GROUP BY 1, 2),
        inc AS (
          SELECT ts // 1800000000 AS bk FROM ev
          WHERE event_type = 'error'
          GROUP BY 1 HAVING COUNT(*) >= 2),
        iv AS (
          SELECT bk * 1800000000 AS b_s, (bk + 1) * 1800000000 AS b_e
          FROM inc)
        SELECT user_id, session_id, COUNT(*) AS n_incidents,
          CAST(SUM(least(a_e, b_e) - greatest(a_s, b_s)) AS BIGINT)
            AS overlap_us
        FROM sess JOIN iv
          ON greatest(a_s, b_s) < least(a_e, b_e)
        GROUP BY 1, 2""")),

    // ---- q230: top onboarding paths — the first three event types of
    //      each user's journey, as a ranked path-frequency table (the
    //      product-analytics "paths" report; q160's transition matrix
    //      is its 1-step marginal). Per-user ordered prefix collapses
    //      via a keyed window + sorted-struct fold; the global top-10
    //      is an in-engine TakeOrdered with a total (count, path) tie
    //      order. ----
    QueryDef(
      "q230_top_paths",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val paths = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .groupBy("user_id")
          .agg(array_join(
            transform(
              sort_array(collect_list(struct(col("rn"), col("event_type")))),
              x => x.getField("event_type")), ">").as("path"))
        paths.groupBy("path")
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_users").desc, col("path"))
          .limit(10)
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts, event_id, event_type
          FROM events),
        r AS (
          SELECT user_id, event_type,
            row_number() OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS rn
          FROM ev),
        p AS (
          SELECT user_id,
            string_agg(event_type, '>' ORDER BY rn) AS path
          FROM r WHERE rn <= 3 GROUP BY user_id)
        SELECT path, COUNT(*) AS n_users
        FROM p GROUP BY path
        ORDER BY n_users DESC, path LIMIT 10""")),

    // ---- q246: correlogram — q172's lag-1 autocorrelation widened to
    //      lags 1..24 over the hourly revenue series, as EXACT integer
    //      sufficient statistics per (type, lag): the consumer divides
    //      to get r(k) and reads the argmax as the dominant period.
    //      The lag shift is an EQUI-join on (type, hb − lag) against a
    //      24-row broadcast lag table (never a window per lag); series
    //      values scale down by 100 so the corr numerator stays in
    //      int64 through sf1 (drop another decade of scale per
    //      further 100× of hourly volume). ----
    QueryDef(
      "q246_correlogram",
      (s, d) => {
        val HourUs = 3600000000L
        val series = t(s, d, "events")
          .select(col("event_type"), expr(s"ts div $HourUs").as("hb"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy("event_type", "hb")
          .agg(expr("sum(cents) div 100").as("v"))
        val lags = series.sparkSession.range(1, 25)
          .select(col("id").as("lag"))
        val lagged = series.crossJoin(broadcast(lags))
          .select(col("event_type"), (col("hb") + col("lag")).as("hb"),
            col("lag"), col("v").as("vp"))
        series.join(lagged, Seq("event_type", "hb"))
          .groupBy("event_type", "lag")
          .agg(count(lit(1)).as("n"),
            sum(col("v")).as("sx"),
            sum(col("vp")).as("sy"),
            sum(col("v") * col("vp")).as("sxy"),
            sum(col("v") * col("v")).as("sxx"),
            sum(col("vp") * col("vp")).as("syy"))
          .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      },
      Some("""
        WITH series AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS hb,
            CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT)
              // 100 AS v
          FROM events GROUP BY 1, 2),
        lags AS (SELECT unnest(range(1, 25)) AS lag),
        j AS (
          SELECT c.event_type, l.lag, c.v, p.v AS vp
          FROM series c
          CROSS JOIN lags l
          JOIN series p ON p.event_type = c.event_type
            AND p.hb = c.hb - l.lag)
        SELECT event_type, lag, COUNT(*) AS n,
          CAST(SUM(v) AS BIGINT) AS sx,
          CAST(SUM(vp) AS BIGINT) AS sy,
          CAST(SUM(v * vp) AS BIGINT) AS sxy,
          CAST(SUM(v * v) AS BIGINT) AS sxx,
          CAST(SUM(vp * vp) AS BIGINT) AS syy,
          COUNT(*) * CAST(SUM(v * vp) AS BIGINT)
            - CAST(SUM(v) AS BIGINT) * CAST(SUM(vp) AS BIGINT) AS num
        FROM j GROUP BY 1, 2""")),

    // ---- q247: bounded-lag Theil–Sen trend — the robust slope
    //      estimator (median of pairwise slopes) made scale-safe by
    //      restricting pairs to lags 1..24 instead of all O(T²)
    //      bucket pairs (Sen 1968; the bounded-window variant keeps
    //      the estimator's outlier resistance for local trends while
    //      the pair count stays 24·T). Slopes quantize to exact
    //      µ-units-per-hour integers, the median is element-picked —
    //      the whole trend readout crosses engines as integers. Same
    //      equi-join shape as q246. ----
    QueryDef(
      "q247_theilsen_trend",
      (s, d) => {
        val HourUs = 3600000000L
        val series = t(s, d, "events")
          .select(col("event_type"), expr(s"ts div $HourUs").as("hb"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy("event_type", "hb")
          .agg(expr("sum(cents) div 100").as("v"))
        val lags = series.sparkSession.range(1, 25)
          .select(col("id").as("lag"))
        val lagged = series.crossJoin(broadcast(lags))
          .select(col("event_type"), (col("hb") + col("lag")).as("hb"),
            col("lag"), col("v").as("vp"))
        series.join(lagged, Seq("event_type", "hb"))
          .withColumn("slope_e6",
            expr("(v - vp) * 1000000 div lag"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_slopes"),
            expr("percentile_disc(0.5) WITHIN GROUP " +
              "(ORDER BY slope_e6)").cast("long").as("slope_med_e6"),
            expr("percentile_disc(0.1) WITHIN GROUP " +
              "(ORDER BY slope_e6)").cast("long").as("slope_p10_e6"),
            expr("percentile_disc(0.9) WITHIN GROUP " +
              "(ORDER BY slope_e6)").cast("long").as("slope_p90_e6"))
      },
      Some("""
        WITH series AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS hb,
            CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT)
              // 100 AS v
          FROM events GROUP BY 1, 2),
        lags AS (SELECT unnest(range(1, 25)) AS lag),
        j AS (
          SELECT c.event_type,
            (c.v - p.v) * 1000000 // l.lag AS slope_e6
          FROM series c
          CROSS JOIN lags l
          JOIN series p ON p.event_type = c.event_type
            AND p.hb = c.hb - l.lag)
        SELECT event_type, COUNT(*) AS n_slopes,
          quantile_disc(slope_e6, 0.5) AS slope_med_e6,
          quantile_disc(slope_e6, 0.1) AS slope_p10_e6,
          quantile_disc(slope_e6, 0.9) AS slope_p90_e6
        FROM j GROUP BY event_type""")),

    // ---- q250: error-budget burn — SRE's SLO ledger as a query: per
    //      day, the error rate vs a 1% SLO, and the cumulative share
    //      of the MONTH's budget already consumed (integer ppm
    //      throughout: used = cum_errors·10⁸ div cum_total at the 1%
    //      target). The cumulative window partitions by 30-day budget
    //      period, so the ledger scales with the bounded day domain,
    //      not events. The q161/q218 monitoring family's
    //      reporting-side closer. ----
    QueryDef(
      "q250_error_budget",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val DayUs = 86400000000L
        val daily = t(s, d, "events")
          .select(expr(s"ts div $DayUs").as("day"),
            (col("event_type") === "error").cast("long").as("is_err"))
          .groupBy("day")
          .agg(count(lit(1)).as("total"), sum(col("is_err")).as("errors"))
          .withColumn("period", expr("day div 30"))
        val w = Window.partitionBy("period").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        daily
          .withColumn("cum_errors", sum(col("errors")).over(w))
          .withColumn("cum_total", sum(col("total")).over(w))
          .select(col("day"), col("period"), col("total"), col("errors"),
            expr("errors * 1000000 div total").as("burn_ppm"),
            expr("cum_errors * 100000000 div cum_total")
              .as("budget_used_ppm"),
            (expr("errors * 1000000 div total") > 10000L)
              .cast("long").as("over_slo"))
      },
      Some("""
        WITH daily AS (
          SELECT epoch_us(ts) // 86400000000 AS day,
            COUNT(*) AS total,
            CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errors
          FROM events GROUP BY 1),
        p AS (
          SELECT *, day // 30 AS period,
            CAST(SUM(errors) OVER (PARTITION BY day // 30 ORDER BY day
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_errors,
            CAST(SUM(total) OVER (PARTITION BY day // 30 ORDER BY day
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_total
          FROM daily)
        SELECT day, period, total, errors,
          errors * 1000000 // total AS burn_ppm,
          cum_errors * 100000000 // cum_total AS budget_used_ppm,
          CAST(CASE WHEN errors * 1000000 // total > 10000
            THEN 1 ELSE 0 END AS BIGINT) AS over_slo
        FROM p""")),

    // ---- q254: seasonality strength — how much of the metric's
    //      variance is explained by hour-of-day? One-way ANOVA
    //      SSB/SST where every SUMMED quantity is an exact integer
    //      (dollar-scaled values; each cell's between-group term
    //      floors to s_h² div n_h — error < one unit per cell, and
    //      integer sums are order-independent where a float Σ s²/n
    //      would hash-diverge); only the FINAL ratio is one identical
    //      IEEE expression (the q49 discipline). Strength near 1 →
    //      schedule-driven metric; near 0 → q247's trend or q161's
    //      changepoints matter more. Two combinable aggregates. ----
    QueryDef(
      "q254_seasonality_strength",
      (s, d) => {
        val HourUs = 3600000000L
        val cells = t(s, d, "events")
          .select(col("event_type"),
            (expr(s"ts div $HourUs") % 24).as("hod"),
            round(col("value")).cast("long").as("c"))
          .groupBy("event_type", "hod")
          .agg(count(lit(1)).as("n_h"),
            sum(col("c")).as("s_h"),
            sum(col("c") * col("c")).as("ss_h"))
          .withColumn("cell_ssb", expr("s_h * s_h div n_h"))
        val nD = col("n").cast("double")
        cells.groupBy("event_type")
          .agg(sum(col("n_h")).as("n"),
            sum(col("s_h")).as("s"),
            sum(col("ss_h")).as("ss"),
            sum(col("cell_ssb")).as("ssb_floor"))
          .withColumn("sst",
            col("ss").cast("double") -
              col("s").cast("double") * col("s").cast("double") / nD)
          .withColumn("ssb",
            col("ssb_floor").cast("double") -
              col("s").cast("double") * col("s").cast("double") / nD)
          .withColumn("strength",
            when(col("sst") =!= 0.0, col("ssb") / col("sst")))
      },
      Some("""
        WITH cells AS (
          SELECT event_type,
            (epoch_us(ts) // 3600000000) % 24 AS hod,
            COUNT(*) AS n_h,
            CAST(SUM(CAST(round("value") AS BIGINT)) AS BIGINT) AS s_h,
            CAST(SUM(CAST(round("value") AS BIGINT)
              * CAST(round("value") AS BIGINT)) AS BIGINT) AS ss_h
          FROM events GROUP BY 1, 2),
        c2 AS (
          SELECT *, s_h * s_h // n_h AS cell_ssb FROM cells),
        agg AS (
          SELECT event_type,
            CAST(SUM(n_h) AS BIGINT) AS n,
            CAST(SUM(s_h) AS BIGINT) AS s,
            CAST(SUM(ss_h) AS BIGINT) AS ss,
            CAST(SUM(cell_ssb) AS BIGINT) AS ssb_floor
          FROM c2 GROUP BY 1)
        SELECT event_type, n, s, ss, ssb_floor,
          CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
            / CAST(n AS DOUBLE) AS sst,
          CAST(ssb_floor AS DOUBLE) - CAST(s AS DOUBLE)
            * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
          CASE WHEN CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
              * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) <> 0.0
            THEN (CAST(ssb_floor AS DOUBLE) - CAST(s AS DOUBLE)
                * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) END
            AS strength
        FROM agg""")),

    // ---- q255: day-of-week uplift — each weekday's mean vs the
    //      overall mean as an EXACT integer cross-ratio
    //      (S_dow·N·10⁶ div S·n_dow — the ratio of two rational means
    //      without ever forming either): the staffing/budget uplift
    //      table. One combinable aggregate + one-row broadcast. ----
    QueryDef(
      "q255_dow_uplift",
      (s, d) => {
        val DayUs = 86400000000L
        val ev = t(s, d, "events")
          .select((expr(s"ts div $DayUs") % 7).as("dow"),
            round(col("value") * 100).cast("long").as("c"))
        val tot = ev.agg(count(lit(1)).as("n_all"),
          sum(col("c")).as("s_all"))
        ev.groupBy("dow")
          .agg(count(lit(1)).as("n_dow"), sum(col("c")).as("s_dow"))
          .crossJoin(broadcast(tot))
          .withColumn("uplift_ppm",
            expr("s_dow * n_all * 1000000 div (s_all * n_dow)"))
      },
      Some("""
        WITH ev AS (
          SELECT (epoch_us(ts) // 86400000000) % 7 AS dow,
            CAST(round("value" * 100) AS BIGINT) AS c
          FROM events),
        tot AS (
          SELECT COUNT(*) AS n_all, CAST(SUM(c) AS BIGINT) AS s_all
          FROM ev)
        SELECT dow, COUNT(*) AS n_dow,
          CAST(SUM(c) AS BIGINT) AS s_dow, n_all, s_all,
          CAST(SUM(c) AS BIGINT) * n_all * 1000000
            // (s_all * COUNT(*)) AS uplift_ppm
        FROM ev, tot GROUP BY dow, n_all, s_all""")),

    // ---- q261: clamped running balance — the inventory/wallet fold
    //      b_t = max(b_{t-1} + δ_t, 0), a SEQUENTIAL recurrence turned
    //      into a PARALLEL prefix via the closed form
    //      b_t = S_t − least(0, running_min(S_t)) (S = prefix sum):
    //      two stacked window passes instead of a per-key driver loop.
    //      Deterministic order (ts, event_id); all int64 cents. The
    //      100 TB shape: one user_id exchange feeds both windows and
    //      the final per-user aggregate — a single hash partitioning
    //      reused across three operators. ----
    QueryDef(
      "q261_clamped_balance",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            (round(col("value") * 100).cast("long") - 5000L).as("delta"))
        val wAsc = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wDesc = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        ev.withColumn("s", sum(col("delta")).over(wAsc))
          .withColumn("runmin", min(col("s")).over(wAsc))
          .withColumn("b", col("s") - least(lit(0L), col("runmin")))
          .withColumn("rnd", row_number().over(wDesc))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_tx"),
            max(col("b")).as("max_bal"),
            min(col("s")).as("min_pref"),
            // last row's balance, folded into the SAME aggregate —
            // a join-back would re-derive the whole window stack
            max(when(col("rnd") === 1, col("b"))).as("final_bal"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS tsu, event_id,
            CAST(round("value" * 100) AS BIGINT) - 5000 AS delta
          FROM events),
        w AS (
          SELECT user_id, tsu, event_id,
            CAST(SUM(delta) OVER (PARTITION BY user_id
              ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS s
          FROM ev),
        w2 AS (
          SELECT user_id, s,
            MIN(s) OVER (PARTITION BY user_id
              ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS runmin,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY tsu DESC, event_id DESC) AS rnd
          FROM w),
        w3 AS (
          SELECT user_id, s, s - LEAST(0, runmin) AS b, rnd FROM w2)
        SELECT user_id, COUNT(*) AS n_tx, MAX(b) AS max_bal,
          MIN(s) AS min_pref,
          MAX(CASE WHEN rnd = 1 THEN b END) AS final_bal
        FROM w3 GROUP BY 1""")),

    // ---- q267: quartile motif census — SAX-style time-series
    //      symbolization kept exact: per-type daily counts quantize
    //      into quartile symbols 0..3 (disc-quantile boundaries pick
    //      ELEMENTS → int64), consecutive symbol 3-grams encode as one
    //      base-4 integer, and the census counts each motif. The
    //      repeated-pattern / regime detector over any metric series;
    //      boundaries broadcast back, the window rides the (type, day)
    //      domain — never raw events. ----
    QueryDef(
      "q267_quartile_motifs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val DayUs = 86400000000L
        val daily = t(s, d, "events")
          .select(col("event_type"), expr(s"ts div $DayUs").as("day"))
          .groupBy("event_type", "day")
          .agg(count(lit(1)).as("cnt"))
        val qs = daily.groupBy("event_type")
          .agg(
            expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cnt)")
              .cast("long").as("q1"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)")
              .cast("long").as("q2"),
            expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cnt)")
              .cast("long").as("q3"))
        val w = Window.partitionBy("event_type").orderBy(col("day"))
        daily.join(broadcast(qs), Seq("event_type"))
          .withColumn("sym",
            when(col("cnt") <= col("q1"), 0L)
              .when(col("cnt") <= col("q2"), 1L)
              .when(col("cnt") <= col("q3"), 2L).otherwise(3L))
          .withColumn("s1", lag(col("sym"), 1).over(w))
          .withColumn("s2", lag(col("sym"), 2).over(w))
          .filter(col("s2").isNotNull)
          .select(col("event_type"),
            (col("s2") * 16L + col("s1") * 4L + col("sym")).as("motif"))
          .groupBy("event_type", "motif")
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        WITH daily AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day,
            COUNT(*) AS cnt
          FROM events GROUP BY 1, 2),
        qs AS (
          SELECT event_type,
            quantile_disc(cnt, 0.25) AS q1,
            quantile_disc(cnt, 0.5) AS q2,
            quantile_disc(cnt, 0.75) AS q3
          FROM daily GROUP BY 1),
        sym AS (
          SELECT daily.event_type, day,
            CASE WHEN cnt <= q1 THEN 0 WHEN cnt <= q2 THEN 1
              WHEN cnt <= q3 THEN 2 ELSE 3 END AS sym
          FROM daily JOIN qs ON daily.event_type = qs.event_type),
        tri AS (
          SELECT event_type, sym,
            LAG(sym, 1) OVER w AS s1, LAG(sym, 2) OVER w AS s2
          FROM sym
          WINDOW w AS (PARTITION BY event_type ORDER BY day))
        SELECT event_type,
          CAST(s2 * 16 + s1 * 4 + sym AS BIGINT) AS motif,
          COUNT(*) AS n
        FROM tri WHERE s2 IS NOT NULL
        GROUP BY 1, 2""")),

    // ---- q274: Shapley channel attribution — the game-theoretic
    //      credit split (q148 last-touch / q193 position / q223
    //      last-non-direct are heuristics; Shapley is the axiomatic
    //      one): channels = the 4 non-purchase event types, coalition
    //      value v(S) = users whose touched-channel set ⊆ S, and
    //      φ_c·4! = Σ_{S∌c} |S|!(3−|S|)!·(v(S∪c)−v(S)) — EXACT
    //      integers (the factorial scaling clears every division).
    //      One user-keyed bitmask aggregate is the only real shuffle;
    //      the 16-coalition lattice, subset sums, and the marginal
    //      fan are broadcast joins over ≤16-row frames. Efficiency
    //      axiom Σφ = v(full) − v(∅) is spec-asserted. ----
    QueryDef(
      "q274_shapley_attribution",
      (s, d) => {
        val ch = t(s, d, "events")
          .filter(col("event_type") =!= "purchase")
          .select("user_id", "event_type").distinct()
        val tn = ch.select("event_type").distinct()
        // rank-without-window: idx = #types lexicographically below
        val ti = tn.alias("a")
          .crossJoin(broadcast(tn.alias("b")))
          .groupBy(col("a.event_type").as("event_type"))
          .agg(sum(when(col("b.event_type") < col("a.event_type"), 1L)
            .otherwise(0L)).as("idx"))
        val um = ch.join(broadcast(ti), Seq("event_type"))
          .groupBy("user_id")
          .agg(expr("bit_or(shiftleft(1, cast(idx as int)))")
            .cast("long").as("mask"))
        val cm = um.groupBy("mask").agg(count(lit(1)).as("cnt"))
        val ss = s.range(16).select(col("id").as("s"))
        val vs = ss.join(broadcast(cm), expr("(mask & ~s) = 0"), "left")
          .groupBy("s")
          .agg(coalesce(sum(col("cnt")), lit(0L)).as("v"))
        val pc = ti.select(col("event_type"),
          expr("cast(shiftleft(1, cast(idx as int)) as bigint)").as("bit"))
        pc.join(broadcast(ss), expr("(s & bit) = 0"))
          .join(broadcast(vs.select(col("s"), col("v").as("v0"))),
            Seq("s"))
          .join(broadcast(vs.select(col("s").as("s1"),
            col("v").as("v1"))), expr("s1 = (s | bit)"))
          .withColumn("w24", expr(
            "CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2 " +
              "WHEN 2 THEN 2 ELSE 6 END").cast("long"))
          .groupBy("event_type")
          .agg(sum(col("w24") * (col("v1") - col("v0"))).as("phi_x24"))
      },
      Some("""
        WITH ch AS (
          SELECT DISTINCT user_id, event_type FROM events
          WHERE event_type <> 'purchase'),
        tn AS (SELECT DISTINCT event_type FROM ch),
        ti AS (
          SELECT a.event_type,
            CAST(COUNT(CASE WHEN b.event_type < a.event_type THEN 1 END)
              AS BIGINT) AS idx
          FROM tn a, tn b GROUP BY 1),
        um AS (
          SELECT user_id, CAST(bit_or(1 << idx) AS BIGINT) AS mask
          FROM ch JOIN ti USING (event_type) GROUP BY 1),
        cm AS (SELECT mask, COUNT(*) AS cnt FROM um GROUP BY 1),
        ss AS (SELECT CAST(x AS BIGINT) AS s FROM range(16) t(x)),
        vs AS (
          SELECT s, CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS v
          FROM ss LEFT JOIN cm ON (mask & ~s) = 0 GROUP BY s),
        pc AS (
          SELECT event_type, CAST(1 << idx AS BIGINT) AS bit FROM ti)
        SELECT pc.event_type,
          CAST(SUM((CASE bit_count(s.s) WHEN 0 THEN 6 WHEN 1 THEN 2
              WHEN 2 THEN 2 ELSE 6 END) * (v1.v - v0.v)) AS BIGINT)
            AS phi_x24
        FROM pc JOIN ss s ON (s.s & pc.bit) = 0
        JOIN vs v0 ON v0.s = s.s
        JOIN vs v1 ON v1.s = (s.s | pc.bit)
        GROUP BY 1""")),

    // ---- q275: bitemporal as-of reconstruction — "what did we
    //      believe at transaction time T about the state valid at V?"
    //      Records carry BOTH a valid-from day and a (possibly late)
    //      recorded-at day; for a 3×3 (V, T) checkpoint grid the
    //      query reconstructs each entity's believed state (max
    //      valid_from ≤ V among records recorded ≤ T, corrections
    //      resolved by latest recorded_at) and rolls it up. The
    //      audit/compliance twin of SCD2 (q163 is valid-time only;
    //      q218 measures lateness, this REPLAYS belief). Fan-out is
    //      a broadcast 9-row grid; the rank window partitions by
    //      (entity, v, t). ----
    QueryDef(
      "q275_bitemporal_asof",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val DayUs = 86400000000L
        val rec = t(s, d, "events")
          .select(col("user_id"), col("event_id"),
            expr(s"ts div $DayUs").as("vf"),
            round(col("value") * 100).cast("long").as("val"))
          .withColumn("rc", col("vf") + col("event_id") % 5)
        val rng = rec.agg(min(col("vf")).as("lo"), max(col("vf")).as("hi"))
        val grid = rng
          .withColumn("k", explode(array(lit(1L), lit(2L), lit(3L))))
          .withColumn("j", explode(array(lit(1L), lit(2L), lit(3L))))
          .select(expr("lo + (hi - lo) * k div 4").as("v"),
            expr("lo + (hi - lo) * j div 4 + 2").as("tt"))
        val w = Window.partitionBy("user_id", "v", "tt")
          .orderBy(col("vf").desc, col("rc").desc, col("event_id").desc)
        rec.crossJoin(broadcast(grid))
          .filter(col("vf") <= col("v") && col("rc") <= col("tt"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .groupBy("v", "tt")
          .agg(count(lit(1)).as("n_entities"), sum(col("val")).as("sum_val"))
      },
      Some("""
        WITH rec AS (
          SELECT user_id, event_id,
            epoch_us(ts) // 86400000000 AS vf,
            CAST(round("value" * 100) AS BIGINT) AS val,
            epoch_us(ts) // 86400000000 + event_id % 5 AS rc
          FROM events),
        rng AS (SELECT MIN(vf) AS lo, MAX(vf) AS hi FROM rec),
        grid AS (
          SELECT lo + (hi - lo) * k // 4 AS v,
            lo + (hi - lo) * j // 4 + 2 AS tt
          FROM rng, unnest([1, 2, 3]) u(k), unnest([1, 2, 3]) w(j)),
        ranked AS (
          SELECT user_id, v, tt, val,
            ROW_NUMBER() OVER (PARTITION BY user_id, v, tt
              ORDER BY vf DESC, rc DESC, event_id DESC) AS rk
          FROM rec, grid
          WHERE vf <= v AND rc <= tt)
        SELECT v, tt, COUNT(*) AS n_entities,
          CAST(SUM(val) AS BIGINT) AS sum_val
        FROM ranked WHERE rk = 1
        GROUP BY 1, 2""")),

    // ---- q276: 1-D Wasserstein (earth-mover) distance between the
    //      click and view value distributions — the INTEGRAL of
    //      |F_A − F_B| over the value domain, where q61's KS is the
    //      max and q175's drift is per-bucket L1: EMD is the drift
    //      measure that weighs HOW FAR mass moved, not just whether.
    //      Exact integer numerator Σ|cumA·nB − cumB·nA|·gap over the
    //      distinct-value domain; num/den ship as int64 (q49
    //      discipline), one IEEE division for the readable cents.
    //      The cumulative counts come from ONE PrefixScan.runningSums
    //      banded pass (three scans, one sort); the gap to the next
    //      level is a rank self-join — rank+1 is an equi-key, so no
    //      global window and no lead() across band edges. Magnitudes:
    //      cum·n ≤ 4e8 at sf0.1, ×gap ≤ 2e13, summed ≤ ~1e17 — inside
    //      int64 through sf1; beyond that pre-bucket values (the
    //      integral telescopes over coarser levels losslessly if both
    //      sides bucket identically). ----
    QueryDef(
      "q276_wasserstein",
      (s, d) => {
        val lv = t(s, d, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(round(col("value") * 100).cast("long").as("v"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("a"),
            when(col("event_type") === "view", 1L).otherwise(0L).as("b"))
          .groupBy("v")
          .agg(sum(col("a")).as("ca"), sum(col("b")).as("cb"))
          .withColumn("one", lit(1L))
          // PrefixScan reads this 3x and the totals row once more:
          // persist the level table so events aggregate exactly once
          .persist()
        // persisted (r14): the rank self-join below consumes sc TWICE,
        // and each leg re-ran the banded sort+window off the lv cache
        // (the legs differ — rank vs rank−1 — so ReusedExchange cannot
        // dedupe above the band exchange). The duplicated subtree
        // contains the scan's expensive sort+window, which is exactly
        // the r13 persist boundary; the cached frame is level-domain
        // sized (distinct cents values), not event-sized.
        val sc = graft.operators.PrefixScan.runningSums(
          lv, "v", Seq.empty,
          Seq("ca" -> "cum_a", "cb" -> "cum_b", "one" -> "rank"))
          .persist()
        val tot = lv.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
        sc.select(col("rank"), col("v"), col("cum_a"), col("cum_b"))
          .join(sc.select((col("rank") - 1L).as("rank"),
            col("v").as("v_next")), Seq("rank"))
          .crossJoin(broadcast(tot))
          .select(col("na"), col("nb"),
            (abs(col("cum_a") * col("nb") - col("cum_b") * col("na")) *
              (col("v_next") - col("v"))).as("seg"))
          .groupBy("na", "nb")
          .agg(sum(col("seg")).as("w1_num"))
          .withColumn("w1_den", col("na") * col("nb"))
          .withColumn("w1_cents",
            col("w1_num").cast("double") / col("w1_den").cast("double"))
      },
      Some("""
        WITH ev AS (
          SELECT CAST(round("value" * 100) AS BIGINT) AS v,
            CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
            CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
          FROM events WHERE event_type IN ('click', 'view')),
        lv AS (
          SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
            CAST(SUM(b) AS BIGINT) AS cb
          FROM ev GROUP BY 1),
        sc AS (
          SELECT v,
            CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
            CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
            LEAD(v) OVER (ORDER BY v) AS v_next
          FROM lv
          WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        tot AS (
          SELECT CAST(SUM(ca) AS BIGINT) AS na,
            CAST(SUM(cb) AS BIGINT) AS nb
          FROM lv)
        SELECT na, nb,
          CAST(SUM(abs(cum_a * nb - cum_b * na) * (v_next - v))
            AS BIGINT) AS w1_num,
          na * nb AS w1_den,
          CAST(SUM(abs(cum_a * nb - cum_b * na) * (v_next - v))
            AS DOUBLE) / CAST(na * nb AS DOUBLE) AS w1_cents
        FROM sc, tot WHERE v_next IS NOT NULL
        GROUP BY na, nb""")),

    // ---- q277: Kendall tau-b — the rank-correlation completion of
    //      the stats family (q49 Pearson is linear, q191 rank-sum is
    //      two-sample, q247 Theil-Sen is the slope): per type, does
    //      daily VOLUME co-move with daily VALUE? S = Σ sign(Δx)·
    //      sign(Δy) over day pairs plus the tie-corrected pair counts
    //      n0/n1/n2 ship as exact int64; tau_b's sqrt is the single
    //      IEEE op. The pair join is bounded by the DAY domain
    //      (days²/2 per type, independent of event volume) — the
    //      aggregate-first-then-pair discipline that keeps pairwise
    //      statistics viable at 100 TB. ----
    QueryDef(
      "q277_kendall_tau",
      (s, d) => {
        val DayUs = 86400000000L
        val daily = t(s, d, "events")
          .select(col("event_type"), expr(s"ts div $DayUs").as("day"),
            round(col("value") * 100).cast("long").as("c"))
          .groupBy("event_type", "day")
          .agg(count(lit(1)).as("x"), sum(col("c")).as("y"))
        val sgn = (a: org.apache.spark.sql.Column) =>
          when(a > 0, 1L).when(a < 0, -1L).otherwise(0L)
        val pairs = daily.select(col("event_type"), col("day").as("da"),
            col("x").as("xa"), col("y").as("ya"))
          .join(daily.select(col("event_type"), col("day").as("db"),
            col("x").as("xb"), col("y").as("yb")), Seq("event_type"))
          .filter(col("da") < col("db"))
          .groupBy("event_type")
          .agg(sum(sgn(col("xb") - col("xa")) * sgn(col("yb") - col("ya")))
            .as("s_stat"))
        val ties = daily.groupBy("event_type")
          .agg(count(lit(1)).as("n"))
          .join(daily.groupBy("event_type", "x")
            .agg(count(lit(1)).as("tx"))
            .groupBy("event_type")
            .agg(sum(expr("tx * (tx - 1) div 2")).as("n1")),
            Seq("event_type"))
          .join(daily.groupBy("event_type", "y")
            .agg(count(lit(1)).as("ty"))
            .groupBy("event_type")
            .agg(sum(expr("ty * (ty - 1) div 2")).as("n2")),
            Seq("event_type"))
          .withColumn("n0", expr("n * (n - 1) div 2"))
        pairs.join(ties, Seq("event_type"))
          .withColumn("tau_b",
            col("s_stat").cast("double") /
              sqrt(((col("n0") - col("n1")) * (col("n0") - col("n2")))
                .cast("double")))
          .select("event_type", "n", "s_stat", "n0", "n1", "n2", "tau_b")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day,
            COUNT(*) AS x,
            CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT)
              AS y
          FROM events GROUP BY 1, 2),
        pr AS (
          SELECT a.event_type,
            CAST(SUM((CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x
                THEN -1 ELSE 0 END)
              * (CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y
                THEN -1 ELSE 0 END)) AS BIGINT) AS s_stat
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.day < b.day
          GROUP BY 1),
        tx AS (
          SELECT event_type,
            CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n1
          FROM (SELECT event_type, x, COUNT(*) AS t
                FROM daily GROUP BY 1, 2)
          GROUP BY 1),
        ty AS (
          SELECT event_type,
            CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n2
          FROM (SELECT event_type, y, COUNT(*) AS t
                FROM daily GROUP BY 1, 2)
          GROUP BY 1),
        nn AS (
          SELECT event_type, COUNT(*) AS n,
            COUNT(*) * (COUNT(*) - 1) // 2 AS n0
          FROM daily GROUP BY 1)
        SELECT nn.event_type, n, s_stat, n0, n1, n2,
          CAST(s_stat AS DOUBLE)
            / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE)) AS tau_b
        FROM nn JOIN pr ON nn.event_type = pr.event_type
        JOIN tx ON nn.event_type = tx.event_type
        JOIN ty ON nn.event_type = ty.event_type""")),

    // ---- q283: seasonal anomaly detection — deseasonalize BEFORE
    //      flagging: per type, remove the day-of-week median from
    //      each daily count, then flag |residual| > 3·MAD of the
    //      residuals. Neither piece alone suffices: the raw-count
    //      MAD gate (q115) fires on every weekend trough, and the
    //      XmR chart (q260) assumes an unstructured mean. Disc
    //      medians pick elements, so counts, seasonal indices,
    //      residuals, MAD, and the 3·MAD compare are ALL exact
    //      int64. Two grouped medians over the tiny (type, day)
    //      domain + broadcast join-backs. ----
    QueryDef(
      "q283_seasonal_anomaly",
      (s, d) => {
        val DayUs = 86400000000L
        val daily = t(s, d, "events")
          .select(col("event_type"), expr(s"ts div $DayUs").as("day"))
          .groupBy("event_type", "day")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("dow", col("day") % 7)
        val seas = daily.groupBy("event_type", "dow")
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)")
            .cast("long").as("dow_med"))
        val resid = daily.join(broadcast(seas), Seq("event_type", "dow"))
          .withColumn("r", col("cnt") - col("dow_med"))
          .withColumn("ar", abs(col("r")))
        val mad = resid.groupBy("event_type")
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ar)")
            .cast("long").as("mad"))
        resid.join(broadcast(mad), Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_days"), max(col("mad")).as("mad"),
            sum(when(col("ar") > col("mad") * 3L, 1L).otherwise(0L))
              .as("n_flagged"),
            max(col("ar")).as("max_abs_resid"))
      },
      Some("""
        WITH daily AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day,
            COUNT(*) AS cnt
          FROM events GROUP BY 1, 2),
        dd AS (SELECT event_type, day, cnt, day % 7 AS dow FROM daily),
        seas AS (
          SELECT event_type, dow, quantile_disc(cnt, 0.5) AS dow_med
          FROM dd GROUP BY 1, 2),
        resid AS (
          SELECT dd.event_type, cnt - dow_med AS r,
            abs(cnt - dow_med) AS ar
          FROM dd JOIN seas ON dd.event_type = seas.event_type
            AND dd.dow = seas.dow),
        mad AS (
          SELECT event_type, quantile_disc(ar, 0.5) AS mad
          FROM resid GROUP BY 1)
        SELECT resid.event_type, COUNT(*) AS n_days, MAX(mad.mad) AS mad,
          CAST(SUM(CASE WHEN ar > mad.mad * 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
          MAX(ar) AS max_abs_resid
        FROM resid JOIN mad ON resid.event_type = mad.event_type
        GROUP BY 1""")),

    // ---- q284: sequence-pattern detection (CEP-lite) — the
    //      MATCH_RECOGNIZE shape without an NFA: each user's event
    //      stream compiles to a direction-symbol STRING ('+'/'-'/'='
    //      vs the previous value, fully tie-broken order), and
    //      patterns become regexes over it — here the V-shape
    //      'down,down,up,up' with standard non-overlapping AFTER
    //      MATCH SKIP PAST semantics, which left-to-right regex
    //      counting reproduces exactly in both engines. Per user:
    //      events, V-count, up/down totals. One user-keyed exchange;
    //      symbols collapse each user to one string row (bounded by
    //      per-user event counts — chunk per session for unbounded
    //      streams). ----
    QueryDef(
      "q284_pattern_vshape",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val sym = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            round(col("value") * 100).cast("long").as("c"))
          .withColumn("prev", lag(col("c"), 1).over(w))
          .filter(col("prev").isNotNull)
          .withColumn("sym",
            when(col("c") > col("prev"), lit("+"))
              .when(col("c") < col("prev"), lit("-"))
              .otherwise(lit("=")))
        sym.groupBy("user_id")
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("sym")))),
            x => x.getField("sym")), "").as("syms"))
          .select(col("user_id"),
            (length(col("syms")) + 1).cast("long").as("n_events"),
            expr("cast(regexp_count(syms, '--\\\\+\\\\+') as bigint)")
              .as("n_vshape"),
            (length(col("syms")) -
              length(regexp_replace(col("syms"), "\\+", "")))
              .cast("long").as("n_up"),
            (length(col("syms")) -
              length(regexp_replace(col("syms"), "-", "")))
              .cast("long").as("n_down"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS tsu, event_id,
            CAST(round("value" * 100) AS BIGINT) AS c
          FROM events),
        sym AS (
          SELECT user_id, tsu, event_id,
            CASE WHEN c > prev THEN '+' WHEN c < prev THEN '-'
              ELSE '=' END AS sym
          FROM (SELECT user_id, tsu, event_id, c,
                  LAG(c, 1) OVER (PARTITION BY user_id
                    ORDER BY tsu, event_id) AS prev
                FROM ev)
          WHERE prev IS NOT NULL),
        strs AS (
          SELECT user_id,
            string_agg(sym, '' ORDER BY tsu, event_id) AS syms
          FROM sym GROUP BY 1)
        SELECT user_id,
          CAST(length(syms) + 1 AS BIGINT) AS n_events,
          CAST(len(regexp_extract_all(syms, '--\+\+')) AS BIGINT)
            AS n_vshape,
          CAST(length(syms) - length(replace(syms, '+', ''))
            AS BIGINT) AS n_up,
          CAST(length(syms) - length(replace(syms, '-', ''))
            AS BIGINT) AS n_down
        FROM strs""")),

    // ---- q285: cross-series correlation matrix — which metric
    //      co-moves with which (q49 correlates two FIXED columns;
    //      q246 is SELF-correlation across lags): all type PAIRS of
    //      daily dollar volume, day-aligned by an equi-join on the
    //      (type, day) aggregate — the pair fan is types², data cost
    //      is the day domain, never raw events. Exact int64
    //      sufficient statistics (n, Σx, Σy, Σxy, Σxx, Σyy in
    //      dollars — cents would overflow n·Σxy at sf1) and the q49
    //      single-expression float r. The series-similarity /
    //      leading-indicator screen. ----
    QueryDef(
      "q285_series_corr_matrix",
      (s, d) => {
        val DayUs = 86400000000L
        val daily = t(s, d, "events")
          .select(col("event_type"), expr(s"ts div $DayUs").as("day"),
            round(col("value")).cast("long").as("usd"))
          .groupBy("event_type", "day")
          .agg(sum(col("usd")).as("v"))
        val pairs = daily.select(col("event_type").as("ta"),
            col("day"), col("v").as("x"))
          .join(daily.select(col("event_type").as("tb"), col("day"),
            col("v").as("y")), Seq("day"))
          .filter(col("ta") < col("tb"))
          .groupBy("ta", "tb")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
        pairs
          .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
          .withColumn("denx", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("deny", col("n") * col("syy") - col("sy") * col("sy"))
          .withColumn("r",
            when(col("denx") > 0 && col("deny") > 0,
              col("num").cast("double") /
                sqrt(col("denx").cast("double") *
                  col("deny").cast("double"))))
          .select("ta", "tb", "n", "num", "denx", "deny", "r")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day,
            CAST(SUM(CAST(round("value") AS BIGINT)) AS BIGINT) AS v
          FROM events GROUP BY 1, 2),
        st AS (
          SELECT a.event_type AS ta, b.event_type AS tb,
            COUNT(*) AS n,
            CAST(SUM(a.v) AS BIGINT) AS sx,
            CAST(SUM(b.v) AS BIGINT) AS sy,
            CAST(SUM(a.v * b.v) AS BIGINT) AS sxy,
            CAST(SUM(a.v * a.v) AS BIGINT) AS sxx,
            CAST(SUM(b.v * b.v) AS BIGINT) AS syy
          FROM daily a JOIN daily b
            ON a.day = b.day AND a.event_type < b.event_type
          GROUP BY 1, 2)
        SELECT ta, tb, n,
          n * sxy - sx * sy AS num,
          n * sxx - sx * sx AS denx,
          n * syy - sy * sy AS deny,
          CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) END AS r
        FROM st""")),

    // ---- q296: pinball-loss forecast evaluation — the proper
    //      scoring rule for QUANTILE forecasts (pinball/quantile
    //      loss; Koenker & Bassett 1978): a τ-quantile prediction ŷ
    //      scores τ·(y−ŷ) when under, (1−τ)·(ŷ−y) when over. Train
    //      split (event_id % 5 < 4) fits per-type q50/q90 spend
    //      quantiles (percentile_disc over integer cents, CAST LONG —
    //      the q153 lesson: Spark types the aggregate DOUBLE even
    //      over integers); the held-out fifth scores them. τ ∈
    //      {1/2, 9/10} makes 10× the loss an exact integer (5·|δ| or
    //      9δ⁺/1δ⁻), so the per-type loss SUMS are integer-exact
    //      cross-engine and the mean is one shared IEEE division.
    //      The tiny train-quantile table broadcasts onto the test
    //      scan — two passes, no fact-sized shuffle at any scale. ----
    QueryDef(
      "q296_pinball_loss",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        val train = ev.filter(col("event_id") % 5 < 4)
          .groupBy("event_type")
          .agg(
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
              .cast("long").as("q50_cents"),
            expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)")
              .cast("long").as("q90_cents"))
        ev.filter(col("event_id") % 5 >= 4)
          .join(broadcast(train), Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_test"),
            min(col("q50_cents")).as("q50_cents"),
            min(col("q90_cents")).as("q90_cents"),
            sum(when(col("cents") >= col("q50_cents"),
              (col("cents") - col("q50_cents")) * 5)
              .otherwise((col("q50_cents") - col("cents")) * 5))
              .as("pinball50_x10"),
            sum(when(col("cents") >= col("q90_cents"),
              (col("cents") - col("q90_cents")) * 9)
              .otherwise(col("q90_cents") - col("cents")))
              .as("pinball90_x10"))
          .withColumn("mean_pinball90",
            expr("CAST(pinball90_x10 AS DOUBLE)" +
              " / (10.0 * CAST(n_test AS DOUBLE))"))
      },
      Some("""
        WITH ev AS (
          SELECT event_id, event_type,
            CAST(floor("value" * 100) AS BIGINT) AS cents
          FROM events WHERE "value" IS NOT NULL),
        train AS (
          SELECT event_type,
            quantile_disc(cents, 0.5) AS q50_cents,
            quantile_disc(cents, 0.9) AS q90_cents
          FROM ev WHERE event_id % 5 < 4 GROUP BY 1)
        SELECT e.event_type, COUNT(*) AS n_test,
          MIN(t.q50_cents) AS q50_cents,
          MIN(t.q90_cents) AS q90_cents,
          CAST(SUM(CASE WHEN e.cents >= t.q50_cents
            THEN (e.cents - t.q50_cents) * 5
            ELSE (t.q50_cents - e.cents) * 5 END) AS BIGINT)
            AS pinball50_x10,
          CAST(SUM(CASE WHEN e.cents >= t.q90_cents
            THEN (e.cents - t.q90_cents) * 9
            ELSE t.q90_cents - e.cents END) AS BIGINT)
            AS pinball90_x10,
          CAST(CAST(SUM(CASE WHEN e.cents >= t.q90_cents
            THEN (e.cents - t.q90_cents) * 9
            ELSE t.q90_cents - e.cents END) AS BIGINT) AS DOUBLE)
            / (10.0 * CAST(COUNT(*) AS DOUBLE)) AS mean_pinball90
        FROM ev e JOIN train t USING (event_type)
        WHERE e.event_id % 5 >= 4
        GROUP BY e.event_type""")),

    // ---- q303: linear interpolation of masked readings — the
    //      two-sided imputation q170's LOCF and q199's median-fill
    //      don't give: ŷ = v_prev + (t−t_prev)·(v_next−v_prev) /
    //      (t_next−t_prev) between the nearest OBSERVED neighbors.
    //      Planted mask: every 7th event's value is hidden and
    //      reconstructed. Neighbor lookup is two IGNORE-NULLS window
    //      scans per user (prev: unbounded..−1, next: +1..unbounded)
    //      with the neighbor's timestamp carried through the same
    //      null mask — user-partitioned windows, no global sort. The
    //      numerator (t−tp)·(vn−vp) stays in int64 (µs-span ×
    //      cent-delta < 2^63); ŷ is one shared float expression of
    //      those exact integers. Rows lacking a neighbor on either
    //      side, or with a zero time span, are excluded by stated
    //      semantics. ----
    QueryDef(
      "q303_linear_interpolate",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
          .withColumn("v",
            when(col("event_id") % 7 === 0, lit(null).cast("long"))
              .otherwise(col("cents")))
        val ord = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
        val next = ord.rowsBetween(1, Window.unboundedFollowing)
        e.withColumn("vp", last(col("v"), ignoreNulls = true).over(prev))
          .withColumn("tp", last(when(col("v").isNotNull, col("ts")),
            ignoreNulls = true).over(prev))
          .withColumn("vn", first(col("v"), ignoreNulls = true).over(next))
          .withColumn("tn", first(when(col("v").isNotNull, col("ts")),
            ignoreNulls = true).over(next))
          .filter(col("event_id") % 7 === 0 &&
            col("vp").isNotNull && col("vn").isNotNull &&
            col("tn") > col("tp"))
          .withColumn("yhat", expr("CAST(vp AS DOUBLE)" +
            " + CAST((ts - tp) * (vn - vp) AS DOUBLE)" +
            " / CAST(tn - tp AS DOUBLE)"))
          .select("event_id", "user_id", "cents", "vp", "vn", "yhat")
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts,
            CAST(floor("value" * 100) AS BIGINT) AS cents,
            CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE CAST(floor("value" * 100) AS BIGINT) END AS v
          FROM events WHERE "value" IS NOT NULL),
        w AS (
          SELECT *,
            last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vp,
            last_value(CASE WHEN v IS NOT NULL THEN ts END
              IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS tp,
            first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS vn,
            first_value(CASE WHEN v IS NOT NULL THEN ts END
              IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS tn
          FROM e)
        SELECT event_id, user_id, cents, vp, vn,
          CAST(vp AS DOUBLE)
            + CAST((ts - tp) * (vn - vp) AS DOUBLE)
            / CAST(tn - tp AS DOUBLE) AS yhat
        FROM w
        WHERE event_id % 7 = 0 AND vp IS NOT NULL AND vn IS NOT NULL
          AND tn > tp""")),

    // ---- q316: censoring-aware discrete survival (Nelson-Aalen) —
    //      q220's conversion table treats never-converters as an
    //      undifferentiated tail; proper survival analysis
    //      RIGHT-CENSORS them at end-of-observation so late signups
    //      don't bias the hazard down. Per day k ∈ [0, 14): risk set
    //      n_k (observation time ≥ k), events d_k (first purchase at
    //      exactly k), censored c_k; the discrete hazard quantizes to
    //      d·10⁶ div n ppm (exact integer, q299's quantization
    //      discipline) and the Nelson-Aalen cumulative hazard is its
    //      running sum — folded window-free through the k' ≤ k
    //      triangle join over the 14-row day spine (bounded by the
    //      horizon, never by the data). ----
    QueryDef(
      "q316_nelson_aalen",
      (s, d) => {
        val DayUs = 86400000000L
        val CensorUs = 1706659200000000L // 2024-01-31T00:00Z end of data
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val su = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
        val users = su
          .join(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("p_ts")),
            Seq("user_id"), "left")
          .groupBy("user_id", "s_ts")
          .agg(min(when(col("p_ts") >= col("s_ts"), col("p_ts")))
            .as("first_p"))
          .select(
            when(col("first_p").isNotNull,
              expr(s"(first_p - s_ts) div $DayUs"))
              .otherwise(expr(s"($CensorUs - s_ts) div $DayUs"))
              .as("obs_day"),
            col("first_p").isNotNull.cast("long").as("event"))
        val ks = ev.sparkSession.range(0, 14).select(col("id").as("k"))
        val table = users.crossJoin(broadcast(ks))
          .groupBy("k")
          .agg(
            sum((col("obs_day") >= col("k")).cast("long")).as("n_risk"),
            sum((col("obs_day") === col("k") && col("event") === 1)
              .cast("long")).as("d_k"),
            sum((col("obs_day") === col("k") && col("event") === 0)
              .cast("long")).as("c_k"))
          .filter(col("n_risk") > 0)
          .withColumn("hazard_ppm", expr("d_k * 1000000 div n_risk"))
        table.select(col("k"), col("n_risk"), col("d_k"), col("c_k"),
          col("hazard_ppm"))
          .join(table.select(col("k").as("j"),
            col("hazard_ppm").as("h_j")), col("j") <= col("k"))
          .groupBy("k", "n_risk", "d_k", "c_k", "hazard_ppm")
          .agg(sum(col("h_j")).as("cum_hazard_ppm"))
      },
      Some(s"""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts FROM events),
        su AS (
          SELECT user_id, MIN(ts) AS s_ts FROM ev
          WHERE event_type = 'signup' GROUP BY 1),
        u AS (
          SELECT su.user_id, su.s_ts,
            MIN(CASE WHEN p.ts >= su.s_ts THEN p.ts END) AS first_p
          FROM su LEFT JOIN ev p
            ON p.user_id = su.user_id AND p.event_type = 'purchase'
          GROUP BY 1, 2),
        obs AS (
          SELECT CASE WHEN first_p IS NOT NULL
              THEN (first_p - s_ts) // 86400000000
              ELSE (1706659200000000 - s_ts) // 86400000000 END
              AS obs_day,
            CASE WHEN first_p IS NOT NULL THEN 1 ELSE 0 END AS event
          FROM u),
        ks AS (SELECT unnest(generate_series(0, 13)) AS k),
        tab AS (
          SELECT k,
            CAST(SUM(CASE WHEN obs_day >= k THEN 1 ELSE 0 END)
              AS BIGINT) AS n_risk,
            CAST(SUM(CASE WHEN obs_day = k AND event = 1
              THEN 1 ELSE 0 END) AS BIGINT) AS d_k,
            CAST(SUM(CASE WHEN obs_day = k AND event = 0
              THEN 1 ELSE 0 END) AS BIGINT) AS c_k
          FROM obs, ks GROUP BY 1),
        h AS (
          SELECT *, d_k * 1000000 // n_risk AS hazard_ppm
          FROM tab WHERE n_risk > 0)
        SELECT k, n_risk, d_k, c_k, hazard_ppm,
          CAST(SUM(hazard_ppm) OVER (ORDER BY k
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hazard_ppm
        FROM h""")),

    // ---- q323: Allen's interval-algebra census (Allen 1983) — the
    //      13 mutually-exclusive, jointly-exhaustive relations
    //      between two intervals (before/meets/overlaps/starts/
    //      during/finishes, their inverses, and equals), tabulated
    //      over per-user activity spans: interval(u, type) =
    //      [min ts, max ts] of that user's events of that type.
    //      The census (type_a, type_b, relation → count) is the
    //      temporal-overlap profile an interval-join planner needs
    //      (how often do spans truly overlap vs merely touch?) and a
    //      correctness anchor for any downstream interval logic —
    //      the CASE ladder is order-sensitive, so hash equality
    //      proves both engines agree on every boundary (=, <) case.
    //
    //      Scale shape: spans are one combinable min/max aggregate
    //      over (user, type); the pair join is an equi-join on
    //      user_id with ≤ |types|² = 25 rows per user; the census
    //      aggregate is tiny. No text, no window, no skew (user
    //      activity is bounded). ----
    QueryDef(
      "q323_allen_census",
      (s, d) => {
        val sp = t(s, d, "events")
          .groupBy("user_id", "event_type")
          .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        val a = sp.select(col("user_id"), col("event_type").as("type_a"),
          col("st").as("a_s"), col("en").as("a_e"))
        val b = sp.select(col("user_id"), col("event_type").as("type_b"),
          col("st").as("b_s"), col("en").as("b_e"))
        val rel =
          when(col("a_s") === col("b_s") && col("a_e") === col("b_e"),
            "equals")
            .when(col("a_e") < col("b_s"), "before")
            .when(col("b_e") < col("a_s"), "after")
            .when(col("a_e") === col("b_s"), "meets")
            .when(col("b_e") === col("a_s"), "met_by")
            .when(col("a_s") === col("b_s") && col("a_e") < col("b_e"),
              "starts")
            .when(col("a_s") === col("b_s") && col("a_e") > col("b_e"),
              "started_by")
            .when(col("a_e") === col("b_e") && col("a_s") > col("b_s"),
              "finishes")
            .when(col("a_e") === col("b_e") && col("a_s") < col("b_s"),
              "finished_by")
            .when(col("a_s") > col("b_s") && col("a_e") < col("b_e"),
              "during")
            .when(col("a_s") < col("b_s") && col("a_e") > col("b_e"),
              "contains")
            .when(col("a_s") < col("b_s") && col("a_e") > col("b_s") &&
              col("a_e") < col("b_e"), "overlaps")
            .when(col("b_s") < col("a_s") && col("b_e") > col("a_s") &&
              col("b_e") < col("a_e"), "overlapped_by")
            .otherwise("impossible")
        a.join(b, Seq("user_id"))
          .filter(col("type_a") < col("type_b"))
          .select(col("type_a"), col("type_b"), rel.as("relation"))
          .groupBy("type_a", "type_b", "relation")
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        WITH sp AS (
          SELECT user_id, event_type,
            MIN(epoch_us(ts)) AS st, MAX(epoch_us(ts)) AS en
          FROM events GROUP BY 1, 2),
        p AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
            a.st AS a_s, a.en AS a_e, b.st AS b_s, b.en AS b_e
          FROM sp a JOIN sp b ON a.user_id = b.user_id
          WHERE a.event_type < b.event_type)
        SELECT type_a, type_b,
          CASE
            WHEN a_s = b_s AND a_e = b_e THEN 'equals'
            WHEN a_e < b_s THEN 'before'
            WHEN b_e < a_s THEN 'after'
            WHEN a_e = b_s THEN 'meets'
            WHEN b_e = a_s THEN 'met_by'
            WHEN a_s = b_s AND a_e < b_e THEN 'starts'
            WHEN a_s = b_s AND a_e > b_e THEN 'started_by'
            WHEN a_e = b_e AND a_s > b_s THEN 'finishes'
            WHEN a_e = b_e AND a_s < b_s THEN 'finished_by'
            WHEN a_s > b_s AND a_e < b_e THEN 'during'
            WHEN a_s < b_s AND a_e > b_e THEN 'contains'
            WHEN a_s < b_s AND a_e > b_s AND a_e < b_e THEN 'overlaps'
            WHEN b_s < a_s AND b_e > a_s AND b_e < a_e
              THEN 'overlapped_by'
            ELSE 'impossible' END AS relation,
          COUNT(*) AS n
        FROM p GROUP BY 1, 2, 3""")),

    // ---- q332: consecutive-day activity streaks — the classic
    //      gaps-and-islands over the CALENDAR (q128's runs are over
    //      word positions, sessionization over raw gaps): per user,
    //      group distinct active days into maximal consecutive runs
    //      via the day − row_number() island key (consecutive days
    //      share it, any gap shifts it), then summarize streak
    //      structure per user. The engagement metric behind "7-day
    //      streak" product features, and a window-correctness anchor:
    //      a single off-by-one in the island key splits or merges
    //      every streak.
    //
    //      Scale shape: dedupe to (user, day) first; the only window
    //      is user-partitioned (grouped-key parallelism); both
    //      aggregates are combinable. ----
    QueryDef(
      "q332_activity_streaks",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("day")
        t(s, d, "events")
          .select(col("user_id"), expr("ts div 86400000000").as("day"))
          .distinct()
          .withColumn("island", col("day") - row_number().over(w))
          .groupBy("user_id", "island")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(sum(col("len")).as("n_days"),
            count(lit(1)).as("n_streaks"),
            max(col("len")).as("max_streak"))
      },
      Some("""
        WITH ud AS (
          SELECT DISTINCT user_id,
            epoch_us(ts) // 86400000000 AS day
          FROM events),
        isl AS (
          SELECT user_id,
            day - row_number() OVER (PARTITION BY user_id ORDER BY day)
              AS island
          FROM ud),
        runs AS (
          SELECT user_id, island, COUNT(*) AS len
          FROM isl GROUP BY 1, 2)
        SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_days,
          COUNT(*) AS n_streaks, MAX(len) AS max_streak
        FROM runs GROUP BY 1""")),

    // ---- q336: late-arrival (out-of-order) profile — the watermark-
    //      tuning input every streaming job needs: within each user's
    //      ARRIVAL order (event_id is the ingestion sequence), how far
    //      behind the running event-time high-water mark do events
    //      land? lateness = max(prev running max − ts, 0). The per-
    //      type summary (late fraction, max, p90) is exactly the
    //      evidence that picks `withWatermark`'s delay: a watermark
    //      below p_max drops rows, far above it bloats state. Pure
    //      integer µs end to end (percentile_disc picks elements →
    //      cast long, the q153 discipline).
    //
    //      Scale shape: one user-partitioned window in arrival order
    //      (grouped-key parallelism), then a 5-key combinable
    //      aggregate + element-picking percentile over ≤ 5 groups. ----
    QueryDef(
      "q336_late_arrival",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("event_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("hwm", max(col("ts")).over(w))
          .withColumn("late_us",
            greatest(coalesce(col("hwm") - col("ts"), lit(0L)), lit(0L)))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
            max(col("late_us")).as("max_late_us"),
            expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY late_us)")
              .cast("long").as("p90_late_us"))
          .withColumn("late_ppm", expr("n_late * 1000000 div n"))
      },
      Some("""
        WITH l AS (
          SELECT event_type,
            greatest(COALESCE(MAX(epoch_us(ts)) OVER (
              PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              - epoch_us(ts), 0), 0) AS late_us
          FROM events)
        SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_late,
          MAX(late_us) AS max_late_us,
          CAST(quantile_disc(late_us, 0.9) AS BIGINT) AS p90_late_us,
          CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
            * 1000000 // COUNT(*) AS late_ppm
        FROM l GROUP BY 1""")),

    // ---- q339: NEAREST as-of join with tolerance — completes the
    //      as-of family (q45/q153 are backward-only): each purchase
    //      matches its closest click by the same user within ±10
    //      minutes, ties to the prior side (pandas merge_asof
    //      direction='nearest' semantics). [[AsOfJoin.nearestJoin]]
    //      computes BOTH candidates in one union+sort pass (backward
    //      last() + forward first() over the same sorted frame) — one
    //      exchange total; the oracle runs DuckDB's two directional
    //      ASOF joins and the same tie/tolerance CASE, so hash
    //      equality pins the nearest semantics including the
    //      equal-time and beyond-tolerance edges. ----
    QueryDef(
      "q339_nearest_asof",
      (s, d) => {
        val ev = t(s, d, "events")
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("conv_id"), col("user_id"),
            col("ts").as("ts_us"))
        val touches = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts").as("ts_us"))
          .agg(min(col("event_id")).as("touch_id"))
        graft.operators.AsOfJoin.nearestJoin(
          conv, touches, "user_id", "ts_us", Seq("touch_id"),
          toleranceUs = 600000000L)
      },
      Some("""
        WITH conv AS (
          SELECT event_id AS conv_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'purchase'),
        tch AS (
          SELECT user_id, epoch_us(ts) AS rt, MIN(event_id) AS touch_id
          FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        p AS (
          SELECT c.conv_id, c.user_id, c.ts_us,
            t.touch_id AS p_id, t.rt AS p_rt
          FROM conv c ASOF LEFT JOIN tch t
            ON c.user_id = t.user_id AND c.ts_us >= t.rt),
        n AS (
          SELECT c.conv_id, t.touch_id AS n_id, t.rt AS n_rt
          FROM conv c ASOF LEFT JOIN tch t
            ON c.user_id = t.user_id AND c.ts_us <= t.rt),
        j AS (
          SELECT p.conv_id, p.user_id, p.ts_us, p_id, p_rt, n_id, n_rt,
            (p_rt IS NOT NULL AND p.ts_us - p_rt <= 600000000)
              AS prior_ok,
            (n_rt IS NOT NULL AND n_rt - p.ts_us <= 600000000)
              AS next_ok
          FROM p JOIN n ON p.conv_id = n.conv_id)
        SELECT conv_id, user_id, ts_us,
          CASE WHEN prior_ok AND (NOT next_ok
              OR ts_us - p_rt <= n_rt - ts_us) THEN p_id
            WHEN next_ok THEN n_id END AS touch_id,
          CASE WHEN prior_ok AND (NOT next_ok
              OR ts_us - p_rt <= n_rt - ts_us) THEN -(ts_us - p_rt)
            WHEN next_ok THEN n_rt - ts_us END AS asof_delta_us,
          CASE WHEN prior_ok AND (NOT next_ok
              OR ts_us - p_rt <= n_rt - ts_us) THEN 'prior'
            WHEN next_ok THEN 'next' ELSE 'none' END AS asof_dir
        FROM j""")),

    // ---- q340: calendar-dimension rollup — the remaining date
    //      surface in one query: year / quarter / ISO week
    //      (weekofyear), month truncation (trunc) and month end
    //      (last_day), aggregated per (year, quarter). Cross-engine
    //      date semantics are a classic silent-divergence zone (ISO
    //      week 1 spans year boundaries; last_day over leap months),
    //      so hash equality against DuckDB's year/quarter/weekofyear/
    //      date_trunc/last_day pins them value-for-value over every
    //      order date in the corpus. ----
    QueryDef(
      "q340_calendar_rollup",
      (s, d) =>
        t(s, d, "orders")
          .select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("yr"),
            quarter(col("o_orderdate")).cast("long").as("qtr"),
            weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
            date_format(trunc(col("o_orderdate"), "month"), "yyyy-MM-dd")
              .as("mstart"),
            date_format(last_day(col("o_orderdate")), "yyyy-MM-dd")
              .as("mend"))
          .groupBy("yr", "qtr")
          .agg(count(lit(1)).as("n_orders"),
            countDistinct(col("iso_week")).as("n_iso_weeks"),
            min(col("mstart")).as("first_mstart"),
            max(col("mend")).as("last_mend")),
      Some("""
        SELECT year(o_orderdate) AS yr,
          quarter(o_orderdate) AS qtr,
          COUNT(*) AS n_orders,
          CAST(COUNT(DISTINCT weekofyear(o_orderdate)) AS BIGINT)
            AS n_iso_weeks,
          strftime(MIN(date_trunc('month', o_orderdate)), '%Y-%m-%d')
            AS first_mstart,
          strftime(MAX(last_day(o_orderdate)), '%Y-%m-%d') AS last_mend
        FROM orders GROUP BY 1, 2""")),

    // ---- q341: time-weighted average (TWAP) per user — the metric
    //      for irregularly-sampled series where a plain mean
    //      over-weights bursts: each observation's value (cents)
    //      holds until the next observation, so the average weights
    //      by holding duration. Numerator Σ cᵢ·(tᵢ₊₁−tᵢ) stays exact
    //      int64 (≤ max_cents × observed span ≈ 2.6e17 at this
    //      corpus; rebase to ms beyond sf10), denominator is the
    //      user's span; the TWAP itself is the single mirrored
    //      division. lead() rides the user-partitioned order
    //      (ts, event_id) so timestamp ties cannot flip gaps. ----
    QueryDef(
      "q341_twap",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        t(s, d, "events").filter(col("value").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"),
            round(col("value") * 100).cast("long").as("c"))
          .withColumn("t_next", lead(col("ts"), 1).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("t_next").isNotNull,
              col("c") * (col("t_next") - col("ts"))).otherwise(0L))
              .as("num"),
            (max(col("ts")) - min(col("ts"))).as("den"))
          .filter(col("den") > 0)
          .withColumn("twap_cents",
            col("num").cast("double") / col("den").cast("double"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS tu, event_id,
            CAST(round("value" * 100) AS BIGINT) AS c
          FROM events WHERE "value" IS NOT NULL),
        g AS (
          SELECT user_id, tu, c,
            LEAD(tu) OVER (PARTITION BY user_id
              ORDER BY tu, event_id) AS t_next
          FROM e),
        a AS (
          SELECT user_id, COUNT(*) AS n,
            CAST(SUM(CASE WHEN t_next IS NOT NULL
              THEN c * (t_next - tu) ELSE 0 END) AS BIGINT) AS num,
            MAX(tu) - MIN(tu) AS den
          FROM g GROUP BY 1)
        SELECT user_id, n, num, den,
          CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS twap_cents
        FROM a WHERE den > 0""")),

    // ---- q346: Little's-law conservation audit — the queueing
    //      identity ∫L(t)dt = Σ(time in system) holds EXACTLY for
    //      any set of intervals, so computing BOTH sides
    //      independently (area under the q164-style sweep-line
    //      concurrency curve vs the plain sum of span durations) and
    //      emitting them as exact µs integers is a powerful
    //      self-check of the whole temporal stack: one off-by-one in
    //      boundary ordering, tie handling, or the running level and
    //      the two columns diverge. Spans are the q323 per-(user,
    //      type) activity intervals; zero-length spans net out of
    //      the boundary aggregate and add 0 duration — both sides
    //      agree by construction.
    //
    //      Scale shape: boundary deltas collapse to one combinable
    //      (type, t) aggregate; the running level and gap ride ONE
    //      type-partitioned window; durations are a second
    //      combinable aggregate. ----
    QueryDef(
      "q346_littles_law",
      (s, d) => {
        val sp = t(s, d, "events")
          .groupBy("user_id", "event_type")
          .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        val bounds = sp
          .select(col("event_type"), col("st").as("tt"), lit(1L).as("dl"))
          .unionByName(sp.select(col("event_type"),
            col("en").as("tt"), lit(-1L).as("dl")))
          .groupBy("event_type", "tt")
          .agg(sum(col("dl")).as("net"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("tt")
        val area = bounds
          .withColumn("level",
            sum(col("net")).over(w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              0)))
          .withColumn("t_next", lead(col("tt"), 1).over(w))
          .filter(col("t_next").isNotNull)
          .groupBy("event_type")
          .agg(sum(col("level") * (col("t_next") - col("tt")))
            .as("area_us"))
        val dur = sp.groupBy("event_type")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("en") - col("st")).as("sum_duration_us"))
        dur.join(area, Seq("event_type"))
          .withColumn("conserved",
            when(col("area_us") === col("sum_duration_us"), 1L)
              .otherwise(0L))
      },
      Some("""
        WITH sp AS (
          SELECT user_id, event_type,
            MIN(epoch_us(ts)) AS st, MAX(epoch_us(ts)) AS en
          FROM events GROUP BY 1, 2),
        b AS (
          SELECT event_type, tt, CAST(SUM(dl) AS BIGINT) AS net FROM (
            SELECT event_type, st AS tt, 1 AS dl FROM sp
            UNION ALL
            SELECT event_type, en AS tt, -1 AS dl FROM sp) u
          GROUP BY 1, 2),
        lv AS (
          SELECT event_type, tt, net,
            CAST(SUM(net) OVER (PARTITION BY event_type ORDER BY tt
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS level,
            LEAD(tt) OVER (PARTITION BY event_type ORDER BY tt)
              AS t_next
          FROM b),
        area AS (
          SELECT event_type,
            CAST(SUM(level * (t_next - tt)) AS BIGINT) AS area_us
          FROM lv WHERE t_next IS NOT NULL GROUP BY 1),
        dur AS (
          SELECT event_type, COUNT(*) AS n_spans,
            CAST(SUM(en - st) AS BIGINT) AS sum_duration_us
          FROM sp GROUP BY 1)
        SELECT d.event_type, d.n_spans, d.sum_duration_us, a.area_us,
          CAST(CASE WHEN a.area_us = d.sum_duration_us
            THEN 1 ELSE 0 END AS BIGINT) AS conserved
        FROM dur d JOIN area a ON d.event_type = a.event_type""")),

    // ---- q347: FIFO allocation as a distributed closed form — the
    //      "inherently sequential" lot-matching workload (cost basis,
    //      inventory aging, credit consumption) with no loop at all:
    //      lay each user's supplies (clicks' cents) and demands
    //      (purchases' cents) on their cumulative-sum axes; FIFO
    //      matching is EXACTLY the interval overlap
    //      max(0, min(cumS, cumD) − max(cumS−s, cumD−d)) between
    //      supply lot i's [cumSᵢ₋₁, cumSᵢ) and demand j's
    //      [cumDⱼ₋₁, cumDⱼ). Two user-partitioned window cumsums +
    //      one within-user overlap join replace the sequential scan;
    //      every allocation is exact cents.
    //
    //      Scale shape: cumsums ride user-partitioned windows; the
    //      overlap join is user-keyed with at most nS + nD − 1 true
    //      matches per user (each pair advances one side's
    //      frontier). A heavy user's pair space could be split by
    //      the first-shared-bin binning of
    //      [[graft.operators.IntervalOverlap]] on the cum axis, with
    //      the bin as a second join key; that is not built. ----
    QueryDef(
      "q347_fifo_allocation",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        def side(ev: String, idc: String, amtc: String, cumc: String) =
          t(s, d, "events")
            .filter(col("event_type") === ev && col("value").isNotNull)
            .select(col("user_id"), col("ts"), col("event_id"),
              round(col("value") * 100).cast("long").as(amtc))
            .withColumn(cumc, sum(col(amtc)).over(w))
            .withColumnRenamed("event_id", idc)
            .drop("ts")
        val sup = side("click", "supply_id", "s_amt", "cum_s")
        val dem = side("purchase", "demand_id", "d_amt", "cum_d")
        sup.join(dem, Seq("user_id"))
          .filter(col("cum_s") - col("s_amt") < col("cum_d") &&
            col("cum_d") - col("d_amt") < col("cum_s"))
          .select(col("user_id"), col("supply_id"), col("demand_id"),
            (least(col("cum_s"), col("cum_d")) -
              greatest(col("cum_s") - col("s_amt"),
                col("cum_d") - col("d_amt"))).as("alloc_cents"))
          .filter(col("alloc_cents") > 0)
      },
      Some("""
        WITH sup AS (
          SELECT user_id, event_id AS supply_id,
            CAST(round("value" * 100) AS BIGINT) AS s_amt,
            CAST(SUM(CAST(round("value" * 100) AS BIGINT))
              OVER (PARTITION BY user_id
                ORDER BY epoch_us(ts), event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_s
          FROM events
          WHERE event_type = 'click' AND "value" IS NOT NULL),
        dem AS (
          SELECT user_id, event_id AS demand_id,
            CAST(round("value" * 100) AS BIGINT) AS d_amt,
            CAST(SUM(CAST(round("value" * 100) AS BIGINT))
              OVER (PARTITION BY user_id
                ORDER BY epoch_us(ts), event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_d
          FROM events
          WHERE event_type = 'purchase' AND "value" IS NOT NULL)
        SELECT s.user_id, s.supply_id, d.demand_id,
          least(s.cum_s, d.cum_d)
            - greatest(s.cum_s - s.s_amt, d.cum_d - d.d_amt)
            AS alloc_cents
        FROM sup s JOIN dem d ON s.user_id = d.user_id
        WHERE s.cum_s - s.s_amt < d.cum_d
          AND d.cum_d - d.d_amt < s.cum_s
          AND least(s.cum_s, d.cum_d)
            - greatest(s.cum_s - s.s_amt, d.cum_d - d.d_amt) > 0""")),

    // ---- q348: watermark design sweep — q336 profiles HOW late
    //      events arrive; this emits the decision table: for each
    //      candidate watermark delay W ∈ {1 m, 5 m, 15 m, 1 h}, how
    //      many events a `withWatermark(W)` job would DROP (lateness
    //      > W) and the drop rate in ppm, per event type. The pair
    //      (q336 → q348) is the full tuning loop for T-row streaming
    //      semantics: measure, then read the cost of each setting
    //      off one table. Lateness reuses q336's per-user arrival-
    //      order high-water mark; the W grid rides one explode, so
    //      the whole sweep is a single combinable aggregate. ----
    QueryDef(
      "q348_watermark_sweep",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("event_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("late_us",
            greatest(coalesce(max(col("ts")).over(w) - col("ts"),
              lit(0L)), lit(0L)))
          .withColumn("wm_us", explode(array(
            Seq(60000000L, 300000000L, 900000000L, 3600000000L)
              .map(lit): _*)))
          .groupBy("event_type", "wm_us")
          .agg(count(lit(1)).as("n"),
            sum(when(col("late_us") > col("wm_us"), 1L).otherwise(0L))
              .as("n_dropped"))
          .withColumn("drop_ppm", expr("n_dropped * 1000000 div n"))
      },
      Some("""
        WITH l AS (
          SELECT event_type,
            greatest(COALESCE(MAX(epoch_us(ts)) OVER (
              PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              - epoch_us(ts), 0), 0) AS late_us
          FROM events),
        g AS (
          SELECT l.event_type, l.late_us, w.wm_us
          FROM l CROSS JOIN (SELECT unnest([60000000, 300000000,
            900000000, 3600000000]) AS wm_us) w)
        SELECT event_type, CAST(wm_us AS BIGINT) AS wm_us,
          COUNT(*) AS n,
          CAST(SUM(CASE WHEN late_us > wm_us THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
          CAST(SUM(CASE WHEN late_us > wm_us THEN 1 ELSE 0 END)
            AS BIGINT) * 1000000 // COUNT(*) AS drop_ppm
        FROM g GROUP BY 1, 2""")),
  )
}
