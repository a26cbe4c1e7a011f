package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, QueryPack}
import graft.core.Tables.{sumDec, t}
import graft.operators.{BloomJoin, Bucketing, Upsert}

/** Physical-layout operators (SURVEY §2 Y-rows): bucketed table layout
  * and the shuffle-free co-located join it buys.
  *
  * Bucketing is pure physical layout — the RESULT is the plain
  * equi-join+aggregate, which is what the DuckDB oracle checks; the
  * VALUE of the operator is the plan shape (zero exchanges on either
  * join side and none before the per-key aggregate), which
  * BucketingSpec asserts. At 100 TB this is the difference between
  * paying the fact-fact shuffle once at write time vs on every query.
  */
object Layout extends QueryPack {

  def defs: Seq[QueryDef] = Seq(
    // ---- bucketed co-located join + colocation-preserving aggregate ----
    QueryDef(
      "q51_bucketed_join",
      (s, d) => {
        // bucket count follows the session's parallelism (floor 8, the
        // historical layout): with 8 buckets on a 32-core session the
        // write ran 8 tasks and the read-side scan + SortMergeJoin +
        // aggregate all ran 8-way. The RESULT is bucket-count
        // independent (plain equi-join + per-key aggregate) and the
        // plan shape is identical — zero exchanges either way.
        val buckets = math.max(8, s.sparkContext.defaultParallelism)
        val orders = t(s, d, "orders")
          .select(col("o_orderkey").as("key"), col("o_totalprice"))
        val items = t(s, d, "lineitem")
          .select(col("l_orderkey").as("key"), col("l_quantity"))
        // the two bucket writes are INDEPENDENT jobs — submit them from
        // two driver threads so the second write's tasks back-fill the
        // cores the first write's tail leaves idle (guide §2.6)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val writes = Seq(
          Future(Bucketing.writeBucketed(orders, "g_orders_bkt", "key",
            buckets)),
          Future(Bucketing.writeBucketed(items, "g_lineitem_bkt", "key",
            buckets)))
        writes.foreach(Await.result(_, Duration.Inf))
        Bucketing
          .colocatedJoin(s, "g_orders_bkt", "g_lineitem_bkt", "key")
          .groupBy("key")
          .agg(
            count(lit(1)).as("n_items"),
            sumDec(col("l_quantity")).as("sum_qty"),
            first(col("o_totalprice")).as("o_totalprice"))
      },
      Some("""
        SELECT o_orderkey AS key,
          COUNT(*) AS n_items,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          o_totalprice
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_totalprice""")),

    // ---- keyed upsert (MERGE INTO): updated keys replace, new keys
    //      insert, the rest pass through. The update batch derives
    //      deterministically from the base so both engines merge the
    //      identical delta; ×2 on a double is exact (power of two). ----
    QueryDef(
      "q59_upsert",
      (s, d) => {
        val base = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
        val mods = base.filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            lit("U").as("o_orderstatus"))
        // the insert-key offset sits far above any realistic orderkey
        // domain (TPC-H SF 100k ≈ 1.5e11 keys) so synthetic inserts can
        // never collide with real keys and hand Upsert a duplicate-keyed
        // batch at large SF
        val inserts = base.filter(col("o_orderkey") % 1000 === 0)
          .select((col("o_orderkey") + 1000000000000L).as("o_orderkey"),
            col("o_totalprice"), lit("N").as("o_orderstatus"))
        Upsert.upsert(base, mods.unionByName(inserts), Seq("o_orderkey"))
      },
      Some("""
        WITH updates AS (
          SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
            'U' AS o_orderstatus
          FROM orders WHERE o_orderkey % 100 = 0
          UNION ALL
          SELECT o_orderkey + 1000000000000, o_totalprice, 'N'
          FROM orders WHERE o_orderkey % 1000 = 0)
        SELECT * FROM updates
        UNION ALL
        SELECT o.o_orderkey, o.o_totalprice, o.o_orderstatus
        FROM orders o
        WHERE NOT EXISTS (
          SELECT 1 FROM updates u WHERE u.o_orderkey = o.o_orderkey)""")),

    // ---- q190: revenue concentration (Gini) as EXACT integers —
    //      how skewed is per-part revenue? The Gini numerator
    //      Σ (2·rank − n − 1)·v over revenue-ranked parts and the
    //      denominator n·Σv ship as int64 (consumer divides; ranks
    //      fully tie-broken by part id so the weighting is
    //      deterministic). The skew audit that decides salting /
    //      hot-key handling before a 100 TB shuffle. Window is over
    //      the PART domain (bounded), not line items. ----
    QueryDef(
      "q190_revenue_gini",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // persisted: three SEPARATE actions (the n count, the stripe
        // offsets collect, the final aggregate) otherwise each re-run
        // the full lineitem scan+aggregate — ReusedExchange only
        // dedupes within one job, never across actions. ~20k rows
        // cached (QueryDef contract: embedders clearCache per query).
        val rev = t(s, d, "lineitem")
          .select(col("l_partkey"),
            round(col("l_extendedprice") * 100).cast("long").as("ec"))
          .groupBy("l_partkey")
          .agg(sum(col("ec")).as("v"))
          .persist()
        val n = rev.count()
        // global rank WITHOUT an unpartitioned window (the repo lint
        // forbids those for cause): the q61 two-phase shape — rank
        // within P deterministic equal-width value stripes, plus the
        // broadcast count of rows in all lower stripes
        val P = 32
        val vr = rev.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
        val striped = rev.crossJoin(broadcast(vr))
          .withColumn("pid",
            when(col("hi") > col("lo"),
              least(floor((col("v") - col("lo")) /
                (col("hi") - col("lo")) * P), lit(P - 1)))
              .otherwise(lit(0)).cast("int"))
          .drop("lo", "hi")
        val wLocal = Window.partitionBy("pid")
          .orderBy(col("v"), col("l_partkey"))
        val localRn = striped
          .withColumn("lrn", row_number().over(wLocal).cast("long"))
        val offsets = striped.groupBy("pid")
          .agg(count(lit(1)).as("cnt"))
          .collect().sortBy(_.getInt(0))
          .scanLeft((0, 0L)) { case ((_, acc), r) =>
            (r.getInt(0), acc + r.getLong(1)) }
        val offBefore: Seq[(Int, Long)] = offsets.sliding(2).map {
          case Array((_, prev), (pid, _)) => (pid, prev)
        }.toSeq
        val spark0 = localRn.sparkSession
        import spark0.implicits._
        val offDf = broadcast(offBefore.toDF("pid", "off"))
        localRn.join(offDf, Seq("pid"))
          .withColumn("rn", col("lrn") + col("off"))
          .groupBy(lit(1).as("grp"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("v")).as("total_cents"),
            sum((col("rn") * 2 - lit(n) - 1) * col("v"))
              .as("gini_num"))
          .withColumn("gini_den", col("n_parts") * col("total_cents"))
          .drop("grp")
      },
      Some("""
        WITH rev AS (
          SELECT l_partkey,
            CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS v
          FROM lineitem GROUP BY 1),
        ranked AS (
          SELECT v,
            CAST(row_number() OVER (ORDER BY v, l_partkey) AS BIGINT)
              AS rn,
            COUNT(*) OVER () AS n
          FROM rev)
        SELECT COUNT(*) AS n_parts,
          CAST(SUM(v) AS BIGINT) AS total_cents,
          CAST(SUM((rn * 2 - n - 1) * v) AS BIGINT) AS gini_num,
          COUNT(*) * CAST(SUM(v) AS BIGINT) AS gini_den
        FROM ranked""")),

    // ---- q197: bloom runtime-filter join — a selective order filter
    //      (1-URGENT keeps ~20% of orders) builds a Bloom bitmap whose
    //      probe prunes lineitem AT THE SCAN, before the join
    //      exchange; the exact join then removes the (rare) false
    //      positives, so the RESULT is the plain join — which is what
    //      the oracle checks — while the VALUE is the probe-side
    //      shuffle shrinking by the filter's selectivity (BloomSpec
    //      asserts the predicate sits below the probe exchange). At
    //      100 TB: shuffle f·|lineitem| instead of |lineitem|. ----
    QueryDef(
      "q197_bloom_join",
      (s, d) => {
        val urgent = t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val pruned = BloomJoin.prefilter(
          t(s, d, "lineitem")
            .select(col("l_orderkey"), col("l_returnflag"),
              col("l_extendedprice")),
          col("l_orderkey"), urgent, col("o_orderkey"))
        pruned
          .join(urgent, pruned("l_orderkey") === urgent("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            sumDec(col("l_extendedprice")).as("revenue"))
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n_items,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag""")),

    // ---- q222: bucket-balance audit — BEFORE committing a bucketed
    //      layout (q51) or salted key scheme (Y4), measure how evenly
    //      a proposed hash spreads the keys: bucket by a PORTABLE
    //      md5-derived hash (the q57 hex idiom, so the oracle sees the
    //      identical assignment), then per-bucket counts plus the
    //      max/mean skew ratio every balance decision reads. One
    //      combinable aggregate over the key domain; the one-row total
    //      broadcasts back. ----
    QueryDef(
      "q222_bucket_balance",
      (s, d) => {
        val B = 32
        val h = conv(substring(md5(col("o_orderkey").cast("string")),
          1, 8), 16, 10).cast("long")
        val bkt = t(s, d, "orders")
          .select(pmod(h, lit(B)).as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"))
        val tot = bkt.agg(sum(col("n")).as("total"),
          max(col("n")).as("mx"))
        bkt.crossJoin(broadcast(tot))
          .select(col("bucket"), col("n"),
            expr(s"n * $B * 1000000 div total").as("load_ppm_of_even"),
            expr(s"mx * $B * 1000000 div total").as("worst_ppm_of_even"))
      },
      Some("""
        WITH b AS (
          SELECT (
              (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1)
                * 268435456
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)
                * 16777216
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1)
                * 1048576
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1)
                * 65536
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 5, 1)) - 1)
                * 4096
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 6, 1)) - 1)
                * 256
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 7, 1)) - 1)
                * 16
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 8, 1)) - 1))
            % 32 AS bucket
          FROM orders),
        c AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY 1),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
          CAST(MAX(n) AS BIGINT) AS mx FROM c)
        SELECT bucket, n,
          n * 32 * 1000000 // total AS load_ppm_of_even,
          mx * 32 * 1000000 // total AS worst_ppm_of_even
        FROM c, t""")),

    // ---- q231: CDC log compaction — materialize an insert/update/
    //      delete change log to its net-effect snapshot: per entity,
    //      the LATEST op wins (fully tie-broken order), delete
    //      tombstones drop the row, and per-row op provenance
    //      (n_ops, n_deletes) rides along for audit. One entity-keyed
    //      window — the compaction a CDC lake job runs over arbitrarily
    //      long logs at the cost of one shuffle of (key, seq, op,
    //      payload). q59 is the MERGE (two-table) face; this is the
    //      log-replay face. ----
    QueryDef(
      "q231_cdc_compaction",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val log = t(s, d, "events")
          .select((col("event_id") % 500).as("key"),
            col("ts"), col("event_id"),
            expr("""CASE WHEN event_id % 10 <= 5 THEN 'I'
                    WHEN event_id % 10 <= 8 THEN 'U'
                    ELSE 'D' END""").as("op"),
            round(col("value") * 100).cast("long").as("cents"))
        val w = Window.partitionBy("key")
          .orderBy(col("ts").desc, col("event_id").desc)
        val wAll = Window.partitionBy("key")
        log
          .withColumn("rn", row_number().over(w))
          .withColumn("n_ops", count(lit(1)).over(wAll))
          .withColumn("n_deletes",
            sum((col("op") === "D").cast("long")).over(wAll))
          .filter(col("rn") === 1 && col("op") =!= "D")
          .select(col("key"), col("cents").as("final_cents"),
            col("op").as("last_op"), col("n_ops"), col("n_deletes"))
      },
      Some("""
        WITH log AS (
          SELECT event_id % 500 AS key, epoch_us(ts) AS ts, event_id,
            CASE WHEN event_id % 10 <= 5 THEN 'I'
              WHEN event_id % 10 <= 8 THEN 'U' ELSE 'D' END AS op,
            CAST(round("value" * 100) AS BIGINT) AS cents
          FROM events),
        r AS (
          SELECT *,
            row_number() OVER (PARTITION BY key
              ORDER BY ts DESC, event_id DESC) AS rn,
            COUNT(*) OVER (PARTITION BY key) AS n_ops,
            CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
              OVER (PARTITION BY key) AS BIGINT) AS n_deletes
          FROM log)
        SELECT key, cents AS final_cents, op AS last_op, n_ops,
          n_deletes
        FROM r WHERE rn = 1 AND op <> 'D'""")),

    // ---- q236: compaction plan — the PLANNER face of the Y2 stats-
    //      driven compactor: per (source, lang) partition, projected
    //      bytes (text length as the proxy the real job reads from
    //      parquet footers), the ceil-div file count at a 256 KiB
    //      target, and the resulting average file size. Pure
    //      combinable aggregate + integer arithmetic — the dry-run
    //      report a lake maintenance job publishes before rewriting
    //      anything. ----
    QueryDef(
      "q236_compaction_plan",
      (s, d) => {
        val Target = 262144L // 256 KiB
        t(s, d, "documents")
          .select(col("source"), col("lang"),
            length(col("text")).cast("long").as("bytes"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("bytes")).as("part_bytes"))
          .withColumn("n_files",
            expr(s"(part_bytes + $Target - 1) div $Target"))
          .withColumn("avg_file_bytes",
            expr("part_bytes div n_files"))
      },
      Some("""
        SELECT source, lang, COUNT(*) AS n_docs,
          CAST(SUM(length(text)) AS BIGINT) AS part_bytes,
          (CAST(SUM(length(text)) AS BIGINT) + 262143) // 262144
            AS n_files,
          CAST(SUM(length(text)) AS BIGINT)
            // ((CAST(SUM(length(text)) AS BIGINT) + 262143) // 262144)
            AS avg_file_bytes
        FROM documents GROUP BY 1, 2""")),

    // ---- q239: index prefix-compression audit — how many bytes would
    //      a prefix-compressed sorted key index save? Consecutive keys
    //      within first-byte blocks (real index blocks partition the
    //      key space the same way) compare common-prefix lengths via a
    //      monotone HOF count; the per-block report is raw bytes vs
    //      saved bytes. The sizing estimate run BEFORE building a
    //      serving-table index (S5). Keyed window per block — the
    //      block key is the partitioner. ----
    QueryDef(
      "q239_prefix_compression",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val keys = t(s, d, "part")
          .select(col("p_name").as("key")).distinct()
          .withColumn("blk", substring(col("key"), 1, 1))
        val w = Window.partitionBy("blk").orderBy("key")
        keys
          .withColumn("prev", lag(col("key"), 1).over(w))
          .withColumn("cpl",
            when(col("prev").isNull, 0L).otherwise(expr(
              """size(filter(
                   sequence(1, least(length(key), length(prev))),
                   i -> substring(key, 1, i) = substring(prev, 1, i)))
              """).cast("long")))
          .groupBy("blk")
          .agg(count(lit(1)).as("n_keys"),
            sum(length(col("key"))).cast("long").as("raw_bytes"),
            sum(col("cpl")).as("saved_bytes"))
          .withColumn("savings_ppm",
            expr("saved_bytes * 1000000 div raw_bytes"))
      },
      Some("""
        WITH keys AS (
          SELECT DISTINCT p_name AS key FROM part),
        b AS (
          SELECT key, substr(key, 1, 1) AS blk,
            lag(key) OVER (PARTITION BY substr(key, 1, 1)
              ORDER BY key) AS prev
          FROM keys),
        c AS (
          SELECT blk, key,
            CASE WHEN prev IS NULL THEN 0
              ELSE len(list_filter(
                range(1, least(length(key), length(prev)) + 1),
                i -> substr(key, 1, CAST(i AS INT))
                  = substr(prev, 1, CAST(i AS INT)))) END AS cpl
          FROM b)
        SELECT blk, COUNT(*) AS n_keys,
          CAST(SUM(length(key)) AS BIGINT) AS raw_bytes,
          CAST(SUM(cpl) AS BIGINT) AS saved_bytes,
          CAST(SUM(cpl) AS BIGINT) * 1000000
            // CAST(SUM(length(key)) AS BIGINT) AS savings_ppm
        FROM c GROUP BY blk""")),

    // ---- q240: shard rebalance plan — pair the k-th most overloaded
    //      shard with the k-th most underloaded and move
    //      min(excess, deficit): the one-round greedy step a shard
    //      manager executes. Loads reduce to one bounded row per shard
    //      (16 by construction); the pairing folds on the driver (the
    //      q190/q213 bounded-collect precedent). Output is the move
    //      list with exact integer row counts. ----
    QueryDef(
      "q240_rebalance_plan",
      (s, d) => {
        val N = 16
        val h = conv(substring(md5(col("o_orderkey").cast("string")),
          1, 8), 16, 10).cast("long")
        val loads = t(s, d, "orders")
          .select(pmod(h, lit(N)).as("shard"))
          .groupBy("shard").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val total = loads.map(_._2).sum
        val mean = total / N
        val donors = loads.filter(_._2 > mean)
          .sortBy { case (s0, n) => (-n, s0) }
        val receivers = loads.filter(_._2 < mean)
          .sortBy { case (s0, n) => (n, s0) }
        val moves = donors.zip(receivers).map {
          case ((ds, dn), (rs, rn)) =>
            (ds, rs, math.min(dn - mean, mean - rn))
        }.filter(_._3 > 0)
        val spark0 = s
        import spark0.implicits._
        moves.toSeq.toDF("donor", "receiver", "move_n")
      },
      Some("""
        WITH b AS (
          SELECT (
              (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1)
                * 268435456
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)
                * 16777216
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1)
                * 1048576
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1)
                * 65536
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 5, 1)) - 1)
                * 4096
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 6, 1)) - 1)
                * 256
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 7, 1)) - 1)
                * 16
            + (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), 8, 1)) - 1))
            % 16 AS shard
          FROM orders),
        loads AS (SELECT shard, COUNT(*) AS n FROM b GROUP BY 1),
        m AS (SELECT CAST(SUM(n) AS BIGINT) // 16 AS mean FROM loads),
        donors AS (
          SELECT shard, n,
            row_number() OVER (ORDER BY n DESC, shard) AS rk
          FROM loads, m WHERE n > mean),
        receivers AS (
          SELECT shard, n,
            row_number() OVER (ORDER BY n ASC, shard) AS rk
          FROM loads, m WHERE n < mean)
        SELECT d.shard AS donor, r.shard AS receiver,
          least(d.n - m.mean, m.mean - r.n) AS move_n
        FROM donors d JOIN receivers r USING (rk), m
        WHERE least(d.n - m.mean, m.mean - r.n) > 0""")),

    // ---- q259: salted two-phase aggregation — the Y4 hot-key defence
    //      in the ORACLE GATE: phase 1 aggregates on (key, salt) so a
    //      hot key spreads across 8 reducers, phase 2 collapses the 8
    //      partials per key; integer sums are associative, so the
    //      result is BIT-IDENTICAL to the plain one-phase GROUP BY the
    //      oracle runs. The query keys on l_returnflag — 3 values over
    //      600k+ rows, exactly the cardinality collapse salting
    //      exists for. ----
    QueryDef(
      "q259_salted_agg",
      (s, d) => {
        val S = 8
        t(s, d, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("r"),
            pmod(conv(substring(md5(col("l_orderkey").cast("string")),
              1, 8), 16, 10).cast("long"), lit(S)).as("salt"))
          .groupBy("l_returnflag", "salt")
          .agg(count(lit(1)).as("pn"), sum(col("r")).as("pr"))
          .groupBy("l_returnflag")
          .agg(sum(col("pn")).as("n_items"),
            sum(col("pr")).as("rev_cents"),
            count(lit(1)).as("n_salt_partials"))
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n_items,
          CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS rev_cents,
          CAST(8 AS BIGINT) AS n_salt_partials
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- q324: Hilbert-curve clustering key — the premium 2-D
    //      layout key (vs q133's Z-order): consecutive curve
    //      positions are ADJACENT cells, so range predicates on
    //      EITHER dimension touch contiguous curve runs with no
    //      Z-shape jumps — at 100 TB that's fewer files overlapping
    //      any (size × price) predicate box after a sort-by-h
    //      rewrite. The key is a codegen'd Catalyst expression
    //      ([[graft.functions.HilbertIndex]]); the oracle re-derives
    //      every key through 10 mechanically-unrolled rotate-and-
    //      accumulate CTE steps, so hash equality proves the curve
    //      walk bit-for-bit (rotation state machine included — a
    //      single flipped quadrant anywhere relocates thousands of
    //      keys). Output is one row per part: the full key map.
    //
    //      Scale shape: embarrassingly parallel projection (no
    //      exchange at all); a downstream layout rewrite would be
    //      repartitionByRange(h) + sortWithinPartitions. ----
    QueryDef(
      "q324_hilbert_key",
      (s, d) => {
        val base = t(s, d, "part").select(
          col("p_partkey"),
          (col("p_size").cast("long") % 1024).as("x0"),
          (round(col("p_retailprice") * 100).cast("long") % 1024)
            .as("y0"))
        base.select(col("p_partkey"), col("x0"), col("y0"),
          graft.functions.HilbertCurve
            .hilbert(col("x0"), col("y0"), 10).as("h"))
      },
      Some(s"""
        WITH base AS (
          SELECT p_partkey, CAST(p_size AS BIGINT) % 1024 AS x0,
            CAST(round(p_retailprice * 100) AS BIGINT) % 1024 AS y0
          FROM part),
        ${graft.functions.HilbertCurve.oracleCtes(10, "base", Seq("p_partkey"))}
        SELECT b.p_partkey, b.x0, b.y0, h.d10 AS h
        FROM base b JOIN h10 h ON b.p_partkey = h.p_partkey""")),
  )
}
