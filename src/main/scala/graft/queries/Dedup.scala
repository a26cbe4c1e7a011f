package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, QueryPack}
import graft.core.Tables.t
import graft.functions.TextFunctions._
import graft.operators.PrefixFilterJoin

/** Deduplication operators over `documents` (SURVEY §7.5): exact
  * hash-dedup, MinHash-LSH near-dedup, blocked n-gram Jaccard, SimHash.
  *
  * Scale design (the 100 TB contract): NOTHING here compares all pairs.
  *  - exact dedup is a hash `groupBy` — one shuffle on the fingerprint;
  *  - MinHash-LSH generates candidates by equi-joining on band keys
  *    (shuffle on band hash), then verifies only candidates — the plan
  *    contains no CartesianProduct (asserted by DedupSpec);
  *  - blocked Jaccard equi-joins on a blocking key (lang) — the SQL-
  *    expressible verify stage, oracle-checked; at 100 TB the block key
  *    would be an LSH band, which is exactly q21.
  *
  * MinHash parameters b=16 bands × r=4 rows (k=64 hashes): candidate
  * probability 1-(1-J^4)^16 ≈ 1 for J ≥ 0.9, ≈ 2e-4 for J ≤ 0.1 — the
  * synthetic corpus is bimodal (planted near-dups at J ≥ 0.9, background
  * ≤ 0.07), so LSH recall is effectively exact and the full pipeline is
  * DuckDB-oracle-checkable against the brute-force pair join.
  */
object Dedup extends QueryPack {

  val ShingleN = 3
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4
  val JaccardThreshold = 0.8

  /** doc_id + distinct word-3-gram shingle set (docs with ≥3 tokens). */
  private def shingled(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), wordShingles(col("text"), ShingleN).as("sh"))
      .filter(size(col("sh")) > 0)

  /** MinHash-LSH candidate pairs: band-key equi-join, no all-pairs.
    *
    * The bucket join ships only (bucket, doc_id) — 16 bytes/row — NOT the
    * shingle sets: exploding b=16 band rows per doc with payload attached
    * would multiply shuffle volume 16×. Shingles are re-attached to the
    * (few) surviving candidate pairs afterwards via two id equi-joins.
    */
  def lshCandidates(docs: DataFrame): DataFrame = {
    // both small tables feed multiple consumers — persist both: the
    // bucket table (16 longs/doc) feeds the two self-join sides and
    // embeds the minhash cost; the shingle table feeds the bucket
    // build plus the two verify re-attach joins (at sf0.1 it is ~2 MB
    // of string arrays — far cheaper cached than re-tokenized 3×).
    // Conditional spread by doc_id off the single-task scan first
    // (guide §2.4/§2.5): the shingle + 64-hash minhash kernel ran on
    // one core and both caches froze that layout; the two verify
    // re-attach joins are doc-keyed and reuse this partitioning.
    // No-op on a many-file table (the gate).
    val sh = shingled(
      graft.operators.InputSpread.byKey(docs, col("doc_id"))).persist()
    val buckets = sh
      .select(
        col("doc_id"),
        explode(
          bandKeys(minhashSignature(col("sh"), NumHashes), Bands, RowsPerBand))
          .as("bucket"))
      .persist()
    val pairs = buckets
      .select(col("bucket"), col("doc_id").as("doc_a"))
      .join(buckets.select(col("bucket"), col("doc_id").as("doc_b")), Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
  }

  /** Connected components over the near-dup pair graph: every clustered
    * doc labeled with the smallest doc_id reachable from it (the
    * canonical representative to keep). Min-label propagation iterated
    * to fixpoint — the pair graph after LSH is tiny relative to the
    * corpus (near-dup clusters, not all documents), so the loop's
    * per-iteration joins stay small at any corpus scale, and iteration
    * count is bounded by cluster diameter.
    */
  def resolveClusters(
      pairs: DataFrame, localLimit: Long = 200000L): DataFrame = {
    // adaptive: a pair graph that fits comfortably on the driver is
    // solved with local union-find (one job instead of a fixpoint loop
    // of joins); the distributed path remains for genuinely large
    // near-dup graphs. Same cutoff spirit as AQE's local-shuffle-read.
    // `localLimit` is overridable so tests can force the distributed
    // fixpoint path on small graphs and assert both paths agree.
    val LocalLimit = localLimit
    val spark = pairs.sparkSession
    // ONE materialization decides the path AND feeds the local solver:
    // collecting limit+1 ids costs 16 bytes/pair, and the unpersisted
    // candidate pipeline above (shingle→minhash→band join→verify) only
    // runs once instead of once for the count and again for the collect
    val headPairs = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .limit((LocalLimit + 1).toInt)
      .collect()
    if (headPairs.length <= LocalLimit) {
      import spark.implicits._
      val es = headPairs.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      return parent.keys.toSeq.sorted
        .map(n => (n, find(n))).toDF("doc_id", "keep_id")
    }
    // the edge set is SYMMETRIZED and iterated, so localCheckpoint
    // (not just persist) everywhere in the loop: each fixpoint round
    // derives `labels` from the previous round, and without lineage
    // truncation the logical plan doubles per iteration — a
    // 40-iteration chain OOMs the driver on plan strings alone long
    // before any data pressure (caught by DedupSpec's forced-
    // distributed test). localCheckpoint materializes to executor
    // storage and cuts the plan back to a leaf each round.
    val edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint()
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    var changed = true
    while (changed) {
      val nbrMin = edges
        .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
        .groupBy("u").agg(min("label").as("nlabel"))
      // pointer-jumping accelerant: after taking the neighborhood min,
      // follow the label one hop (label -> its OWN current label) so
      // long chains converge in O(log diameter) rounds, not O(diameter)
      val hop = labels.select(col("node").as("label"),
        col("label").as("label2"))
      val next = labels
        .join(nbrMin.select(col("u").as("node"), col("nlabel")), Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .join(hop, Seq("label"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("label2"), col("label"))).as("label"))
        // LAZY: the changed-check below is the materializing action,
        // so each round runs one job instead of checkpoint + check
        // (r14; the TreeClosure idiom)
        .localCheckpoint(false)
      changed = next.join(labels.withColumnRenamed("label", "old"), Seq("node"))
        .filter(col("label") =!= col("old")).limit(1).count() > 0
      labels.unpersist()
      labels = next
    }
    edges.unpersist()
    labels.select(col("node").as("doc_id"), col("label").as("keep_id"))
  }

  /** (doc_id, lang, sorted-distinct HASHED token set, size): the verify
    * representation. Intersections count by linear merge over longs
    * (8-byte compares; set sizes are preserved — 64-bit collisions are
    * ~|vocab|²/2⁶⁴ and the string-space oracle would flag distortion).
    */
  private[graft] def hashedTokenSets(docs: DataFrame): DataFrame =
    // conditional spread by doc_id off the single-task scan (guide
    // §2.5): callers persist this frame and re-join it by doc id,
    // so the tokenize+hash kernel and every cached pass ran on one
    // core before; the id-keyed re-attach joins reuse the
    // partitioning. No-op on a many-file table (the gate).
    graft.operators.InputSpread.byKey(docs, col("doc_id")).select(
      col("doc_id"),
      col("lang"),
      array_sort(transform(array_distinct(tokens(col("text"))),
        tk => xxhash64(tk))).as("toks"))
      .withColumn("nt", size(col("toks")))

  /** Exact within-lang-block Jaccard verify join, Y4-salted AND
    * ids-only: lang has a handful of distinct values, so a bare
    * lang-equi-join would put every pair on ≤5 partitions — the a side
    * takes one salt, the b side replicates across all S, each pair
    * meets exactly once on a (lang, salt) key with S× the parallelism.
    *
    * The pair join itself carries (doc_id, nt) ONLY — 20 bytes/row, so
    * the S× replication costs S×20 bytes/doc, not S× the token payload
    * — and the candidate stream is cut by the sound size pre-filter
    * (J ≤ min(n)/max(n)) before token sets are re-attached to the few
    * survivors by id. Quadratic within block BY DEFINITION (exact
    * verify stage): at corpus scale the block key is an LSH band,
    * which is exactly q21.
    */
  def saltedJaccardPairs(
      docs: DataFrame,
      threshold: Double = 0.95,
      S: Int = 16): DataFrame = {
    val sets = hashedTokenSets(docs).persist()
    val ids = sets.select(col("lang"), col("doc_id"), col("nt"))
    val a = ids.select(
      col("lang"), col("doc_id").as("doc_a"), col("nt").as("n_a"))
      .withColumn("salt", pmod(hash(col("doc_a")), lit(S)))
    val b = ids.select(
      col("lang"), col("doc_id").as("doc_b"), col("nt").as("n_b"))
      .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
    val cand = a.join(b, Seq("lang", "salt"))
      .filter(col("doc_a") < col("doc_b"))
      // sound size pre-filter: J ≤ min(n)/max(n) — candidates whose
      // sizes differ can't qualify, so they never see the token arrays
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        greatest(col("n_a"), col("n_b")) * threshold)
      .select(col("lang"), col("doc_a"), col("doc_b"),
        col("n_a"), col("n_b"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("toks").as("t_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("toks").as("t_b")),
        Seq("doc_b"))
      .withColumn("jaccard", jaccardBySize(
        graft.functions.HashFunctions
          .sortedLongIntersectSize(col("t_a"), col("t_b")),
        col("n_a"), col("n_b")))
      .filter(col("jaccard") >= threshold)
      .select("lang", "doc_a", "doc_b", "jaccard")
  }

  def defs: Seq[QueryDef] = Seq(
    // ---- Exact dedup: canonical-form hash groupBy; keeps the minimum
    //      doc_id as the group representative ----
    QueryDef(
      "q20_exact_dedup",
      (s, d) =>
        t(s, d, "documents")
          .groupBy(md5(normText(col("text"))).as("fp"))
          .agg(
            min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_copies")),
      Some("""
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
          min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY 1""")),

    // ---- MinHash-LSH near-dedup, full pipeline: shingle → signature →
    //      band buckets → candidate equi-join → exact Jaccard verify.
    //      Oracle = brute-force pair join in DuckDB (tractable at sf0.01;
    //      LSH recall ≈ 1 at this threshold, see header note). ----
    QueryDef(
      "q21_minhash_lsh",
      (s, d) =>
        lshCandidates(t(s, d, "documents"))
          .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
          .filter(col("jaccard") >= JaccardThreshold)
          .select("doc_a", "doc_b", "jaccard"),
      Some(s"""
        WITH d AS (
          SELECT doc_id,
            regexp_split_to_array(trim(text), '\\s+') AS toks
          FROM documents),
        s AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
          FROM d WHERE len(toks) >= 3)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= $JaccardThreshold""")),

    // ---- Blocked n-gram (unigram-set) Jaccard: salted ids-only
    //      equi-join on the blocking key, exact verify on survivors.
    //      (DedupSpec's prefix-filtered plan is the equivalent for
    //      Zipfian-vocabulary corpora; on THIS corpus the measured
    //      vocab is ~31 tokens/lang, where prefix keys select nothing
    //      — 2.46M candidates vs 583k size-filtered block pairs at
    //      sf0.1 — so the salted block join is the faster exact plan,
    //      and the prefix plan serves as its equivalence oracle.) ----
    QueryDef(
      "q22_jaccard_blocked",
      (s, d) => saltedJaccardPairs(t(s, d, "documents")),
      Some("""
        WITH d AS (
          SELECT doc_id, lang,
            list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
          FROM documents)
        SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
          len(list_intersect(a.toks, b.toks))::DOUBLE
            / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95""")),

    // ---- Near-dup RESOLUTION: LSH pairs → connected components →
    //      (doc, canonical keep id). Oracle: transitive closure via
    //      recursive CTE over the brute-force pair graph. ----
    QueryDef(
      "q40_dedup_resolve",
      (s, d) =>
        resolveClusters(
          lshCandidates(t(s, d, "documents"))
            .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
            .filter(col("jaccard") >= JaccardThreshold)
            .select("doc_a", "doc_b")),
      Some(s"""
        WITH RECURSIVE d AS (
          SELECT doc_id,
            regexp_split_to_array(trim(text), '\\s+') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
          FROM d WHERE len(toks) >= 3),
        pairs AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= $JaccardThreshold),
        edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        reach AS (
          SELECT u AS node, u AS r FROM edges
          UNION
          SELECT e.u AS node, reach.r
          FROM edges e JOIN reach ON e.v = reach.node)
        SELECT node AS doc_id, min(r) AS keep_id
        FROM reach GROUP BY node""".stripMargin)),

    // ---- 64-bit SimHash fingerprints, oracle-certified: md5-derived
    //      token hashes (first 8 digest bytes big-endian) so DuckDB can
    //      replicate every bit in HUGEINT and map the top bit back to
    //      the signed-64 value. One compiled pass per row (SimHashMd5Wide
    //      with doGenCode); the xxhash64 SimHash64 expression remains the
    //      library's non-oracle throughput path, value- and Hamming-
    //      behavior-asserted in DedupSpec. ----
    QueryDef(
      "q23_simhash",
      (s, d) =>
        t(s, d, "documents")
          .select(
            col("doc_id"),
            graft.functions.HashFunctions
              .simhashMd5Wide(array_distinct(tokens(normText(col("text")))))
              .as("simhash64")),
      Some("""
        WITH d AS (
          SELECT doc_id,
            list_distinct(regexp_split_to_array(
              lower(trim(text)), '\s+')) AS toks
          FROM documents),
        h AS (
          SELECT doc_id,
            list_transform(toks, tk ->
              list_sum(list_transform(range(0, 16), i ->
                CAST(strpos('0123456789abcdef',
                  substr(md5(tk), CAST(i + 1 AS INT), 1)) - 1 AS HUGEINT)
                * CAST(2 ** (4 * (15 - i)) AS HUGEINT)))) AS hs
          FROM d)
        SELECT doc_id,
          CAST(CASE WHEN fp >= CAST(2 ** 63 AS HUGEINT)
            THEN fp - CAST(2 ** 64 AS HUGEINT) ELSE fp END AS BIGINT)
            AS simhash64
        FROM (
          SELECT doc_id,
            list_sum(list_transform(range(0, 64), b ->
              CASE WHEN list_sum(list_transform(hs,
                  h -> 2 * ((h // CAST(2 ** b AS HUGEINT)) % 2) - 1)) > 0
                THEN CAST(2 ** b AS HUGEINT)
                ELSE CAST(0 AS HUGEINT) END)) AS fp
          FROM h)""")),

    // ---- ORACLE-certified SimHash: same algorithm, md5-derived 32-bit
    //      token hashes so DuckDB can replicate every bit. q23 remains
    //      the fast path (single-pass codegen'd xxhash64 expression);
    //      this variant proves the simhash ALGORITHM value-for-value
    //      cross-engine: h(t) = first 8 md5 nibbles; bit b of the
    //      fingerprint is the sign of Σ_t (2·bit_b(h(t)) − 1). All
    //      arithmetic is integer-exact in both engines. ----
    QueryDef(
      "q57_simhash_md5",
      (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"),
          graft.functions.HashFunctions
            .simhashMd5(array_distinct(tokens(normText(col("text")))))
            .as("simhash32")),
      Some("""
        WITH d AS (
          SELECT doc_id,
            list_distinct(regexp_split_to_array(
              lower(trim(text)), '\s+')) AS toks
          FROM documents),
        h AS (
          SELECT doc_id,
            list_transform(toks, tk ->
                (strpos('0123456789abcdef', substr(md5(tk), 1, 1)) - 1) * 268435456
              + (strpos('0123456789abcdef', substr(md5(tk), 2, 1)) - 1) * 16777216
              + (strpos('0123456789abcdef', substr(md5(tk), 3, 1)) - 1) * 1048576
              + (strpos('0123456789abcdef', substr(md5(tk), 4, 1)) - 1) * 65536
              + (strpos('0123456789abcdef', substr(md5(tk), 5, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(tk), 6, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(tk), 7, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(tk), 8, 1)) - 1)) AS hs
          FROM d)
        SELECT doc_id,
          CAST(list_sum(list_transform(range(0, 32), b ->
            CASE WHEN list_sum(list_transform(hs,
                h -> 2 * ((h // CAST(2 ** b AS BIGINT)) % 2) - 1)) > 0
              THEN CAST(2 ** b AS BIGINT) ELSE 0 END)) AS BIGINT)
            AS simhash32
        FROM h""")),

    // ---- q97: winnowing fingerprints (Schleimer, Wilkerson, Aiken
    //      2003, "Winnowing: Local Algorithms for Document
    //      Fingerprinting" — the MOSS algorithm): hash every token
    //      3-gram, slide a window of w=4 consecutive gram hashes, and
    //      select each window's MINIMUM hash as a fingerprint. The
    //      guarantee minhash lacks: any shared run of ≥ w+k-1 tokens
    //      is caught by at least one common fingerprint, at expected
    //      density 2/(w+1) of grams — partial-copy detection (quotes,
    //      boilerplate, plagiarized spans), not whole-doc similarity.
    //      Planted quote docs (first 12 tokens of every doc_id%7==0
    //      doc, built by the SAME slice+join expression in both
    //      engines) share their gram prefix with the source doc, and
    //      identical windows select identical minima ⇒ every quote's
    //      fingerprint is shared ⇒ shared_frac = 1, flagged.
    //      `flagged` compares integers (2·n_shared ≥ n_fps), never
    //      doubles; shared_frac is ONE IEEE division in both engines.
    //      Scale: selection is a pure per-row HOF — ZERO shuffles
    //      until fingerprints leave the doc (O(n·w) per doc; w=4 —
    //      a monotonic-deque Expression makes it O(n) if w grows).
    //      Cross-doc matching ships only (doc_id, 32-hex) pairs into
    //      one fp-keyed count + one fp-keyed join; nothing is
    //      all-pairs, text never crosses a shuffle. ----
    QueryDef(
      "q97_winnowing",
      (s, d) => {
        // conditional input spread (no-op on a parallel 100 TB scan):
        // the gram-md5 + window-min winnowing kernel is this query's
        // dominant cost and ran on the single scan task
        val base = graft.operators.InputSpread.byKey(
          t(s, d, "documents")
            .select(col("doc_id"), col("source"), col("text")),
          col("doc_id"))
        val quotes = base
          .filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 12)
          .select(
            (col("doc_id") + 5000000L).as("doc_id"),
            lit("quotes").as("source"),
            array_join(slice(col("tk"), 1, 12), " ").as("text"))
        val fps = base.unionByName(quotes)
          .select(col("doc_id"), col("source"),
            graft.functions.HashFunctions
              .ngramMd5(tokens(col("text")), 3).as("g"))
          .select(col("doc_id"), col("source"),
            explode_outer(
              when(size(col("g")) >= 1,
                array_distinct(transform(
                  sequence(lit(1), greatest(size(col("g")) - 3, lit(1))),
                  i => array_min(slice(col("g"), i, lit(4))))))
                .otherwise(array().cast("array<string>"))).as("fp"))
        val nd = fps.filter(col("fp").isNotNull)
          .groupBy("fp").agg(count(lit(1)).as("nd"))
        fps.join(nd, Seq("fp"), "left")
          .groupBy("doc_id", "source")
          .agg(
            sum(when(col("fp").isNotNull, 1L).otherwise(0L)).as("n_fps"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .select(
            col("doc_id"), col("source"), col("n_fps"), col("n_shared"),
            when(col("n_fps") > 0,
              col("n_shared").cast("double") / col("n_fps").cast("double"))
              .otherwise(0.0).as("shared_frac"),
            when(col("n_fps") > 0 &&
              col("n_shared") * 2 >= col("n_fps"), 1L)
              .otherwise(0L).as("flagged"))
      },
      Some("""
        WITH base AS (
          SELECT doc_id, source, text FROM documents),
        q AS (
          SELECT doc_id + 5000000 AS doc_id, 'quotes' AS source,
            array_to_string(tk[1:12], ' ') AS text
          FROM (SELECT doc_id,
                  regexp_split_to_array(trim(text), '\s+') AS tk
                FROM base WHERE doc_id % 7 = 0)
          WHERE len(tk) >= 12),
        g AS (
          SELECT doc_id, source,
            list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
              i -> md5(array_to_string(tk[i:i+2], ' '))) AS g
          FROM (SELECT doc_id, source,
                  regexp_split_to_array(trim(text), '\s+') AS tk
                FROM (SELECT * FROM base UNION ALL SELECT * FROM q))),
        e AS (
          SELECT doc_id, source, unnest(
            CASE WHEN len(g) >= 1 THEN
              list_distinct(list_transform(
                generate_series(1, greatest(len(g) - 3, 1)),
                i -> list_min(g[i:i+3])))
            ELSE CAST([] AS VARCHAR[]) END) AS fp
          FROM g),
        n AS (
          SELECT fp, CAST(count(*) AS BIGINT) AS nd FROM e GROUP BY fp),
        pd AS (
          SELECT e.doc_id, e.source,
            CAST(count(*) AS BIGINT) AS n_fps,
            CAST(SUM(CASE WHEN n.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_shared
          FROM e JOIN n USING (fp) GROUP BY e.doc_id, e.source)
        SELECT g.doc_id, g.source,
          COALESCE(pd.n_fps, 0) AS n_fps,
          COALESCE(pd.n_shared, 0) AS n_shared,
          CASE WHEN COALESCE(pd.n_fps, 0) > 0
            THEN COALESCE(pd.n_shared, 0)::DOUBLE
              / COALESCE(pd.n_fps, 0)::DOUBLE
            ELSE 0.0 END AS shared_frac,
          CASE WHEN COALESCE(pd.n_fps, 0) > 0
              AND 2 * COALESCE(pd.n_shared, 0) >= COALESCE(pd.n_fps, 0)
            THEN 1 ELSE 0 END::BIGINT AS flagged
        FROM g LEFT JOIN pd USING (doc_id, source)""")),

    // ---- q98: inter-source duplication matrix — for every pair of
    //      sources, how many canonical document fingerprints they
    //      share (the "where is my corpus mirrored from?" audit that
    //      drives source-level dedup priorities and crawl dedup
    //      budgets). A planted 'mirror' source (uppercased copies of
    //      every doc_id%11==0 doc, built by the SAME expression in
    //      both engines) proves matching is on the CANONICAL form —
    //      lower+whitespace-collapse erases the case flip. Overlap
    //      coefficient |A∩B| / min(|A|,|B|) is ONE IEEE division.
    //      Scale: distinct (fp, source) is one map-side-combinable
    //      shuffle of (16-byte, short-string) pairs; the fp self-join
    //      fans out per fingerprint only to sources CARRYING it
    //      (≤ #sources² pairs per fp, sources are O(100) at 100 TB —
    //      never doc×doc); the matrix is ≤ S² rows and the per-source
    //      totals broadcast back to it. Text never leaves the scan. ----
    QueryDef(
      "q98_source_dup_matrix",
      (s, d) => {
        val base = t(s, d, "documents").select(col("source"), col("text"),
          col("doc_id"))
        val mirror = base.filter(col("doc_id") % 11 === 0)
          .select(lit("mirror").as("source"),
            upper(col("text")).as("text"), col("doc_id"))
        val fs = base.unionByName(mirror)
          .select(md5(normText(col("text"))).as("fp"), col("source"))
          .distinct()
        val tot = fs.groupBy("source").agg(count(lit(1)).as("n"))
        fs.as("a").join(fs.as("b"), "fp")
          .filter(col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"),
            col("b.source").as("source_b"))
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(tot.select(col("source").as("source_a"),
            col("n").as("n_a"))), Seq("source_a"))
          .join(broadcast(tot.select(col("source").as("source_b"),
            col("n").as("n_b"))), Seq("source_b"))
          .select(col("source_a"), col("source_b"), col("n_shared"),
            col("n_a"), col("n_b"),
            (col("n_shared").cast("double") /
              least(col("n_a"), col("n_b")).cast("double"))
              .as("overlap"))
      },
      Some("""
        WITH c AS (
          SELECT source,
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM documents
          UNION ALL
          SELECT 'mirror' AS source,
            md5(regexp_replace(lower(trim(upper(text))), '\s+', ' ', 'g'))
              AS fp
          FROM documents WHERE doc_id % 11 = 0),
        fs AS (SELECT DISTINCT fp, source FROM c),
        tot AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n
          FROM fs GROUP BY source),
        m AS (
          SELECT a.source AS source_a, b.source AS source_b,
            CAST(count(*) AS BIGINT) AS n_shared
          FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b, n_shared, ta.n AS n_a, tb.n AS n_b,
          n_shared::DOUBLE / least(ta.n, tb.n)::DOUBLE AS overlap
        FROM m
        JOIN tot ta ON ta.source = m.source_a
        JOIN tot tb ON tb.source = m.source_b""")),

    // ---- Asymmetric containment dedup: detect documents that are
    //      mostly CONTAINED in another (quote farms, scraped excerpts,
    //      partial re-posts) — the case symmetric Jaccard misses: a
    //      60% excerpt of a long doc has low Jaccard but containment
    //      ≈ 1. Planted: every 20th doc contributes an excerpt (first
    //      3/5 of its tokens, id + 2e6); containment(A→B) =
    //      |grams(A) ∩ grams(B)| / |grams(A)| over distinct word
    //      8-gram md5s, reported for excerpt-side docs at ≥ 90%.
    //      Gram sets are df-capped (drop grams in > 50 docs — the
    //      standard boilerplate-gram prune, applied to BOTH the
    //      intersection and the denominator so the ratio stays a real
    //      containment over the pruned sets). Scale: the inverted-
    //      index join ships (32-hex, id) rows only — text never leaves
    //      the first projection; the df cap bounds every gram's
    //      fan-out at 50², and candidate volume scales with real
    //      overlap, not corpus². ----
    QueryDef(
      "q116_containment_dedup",
      (s, d) => {
        val off = 2000000L
        val base = t(s, d, "documents").select(col("doc_id"), col("text"))
        val snips = base.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .select((col("doc_id") + off).as("doc_id"),
            array_join(
              slice(col("tk"), lit(1),
                greatest(lit(1), expr("(size(tk) * 3) div 5"))),
              " ").as("text"))
        val corpus = base.unionByName(snips)
        // conditional spread by doc_id before the gram kernel (guide
        // §2.5): the tokenize + 8-gram md5 explode — this query's
        // dominant cost — ran on the scan's single task; the na
        // aggregate below is clustered by the same key and reuses the
        // exchange. No-op on a many-file table (the gate).
        val dg = graft.operators.InputSpread.byKey(corpus, col("doc_id"))
          .select(col("doc_id"),
            explode(array_distinct(
              graft.functions.HashFunctions.ngramMd5(
                tokens(col("text")), 8))).as("g"))
        // per-gram df as a count over a g-partitioned window, NOT a
        // groupBy(g) + join back (r14): the join form ran the gram
        // kernel TWICE — the partial-aggregate side and the raw join
        // side canonicalize differently, so ReusedExchange cannot
        // dedupe them, and the r13 persist attempt (caching the
        // exploded rows) measured WORSE. The window ships each
        // (doc_id, g) row through ONE g exchange and reads df in
        // place — one kernel pass, one fewer exchange, strictly fewer
        // shuffled bytes at any scale. Same value: dg is per-doc
        // distinct, so the partition row count IS the df.
        val wg = org.apache.spark.sql.expressions.Window.partitionBy("g")
        val keep = dg.withColumn("df", count(lit(1)).over(wg))
          .filter(col("df") <= 50)
          .select(col("doc_id"), col("g"))
        val na = keep.filter(col("doc_id") >= off)
          .groupBy("doc_id").agg(count(lit(1)).as("na"))
        val inter = keep.filter(col("doc_id") >= off)
          .select(col("g"), col("doc_id").as("a"))
          .join(keep.filter(col("doc_id") < off)
            .select(col("g"), col("doc_id").as("b")), Seq("g"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_inter"))
        inter.join(na.withColumnRenamed("doc_id", "a"), Seq("a"))
          .select(col("a"), col("b"), col("n_inter"), col("na"),
            expr("n_inter * 1000000 div na").as("containment_ppm"))
          .filter(col("containment_ppm") >= 900000)
      },
      Some("""
        WITH base AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 2000000,
            array_to_string(tk[1:greatest(1, (len(tk) * 3) // 5)], ' ')
          FROM (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
            FROM documents WHERE doc_id % 20 = 0)),
        dg AS (
          SELECT DISTINCT doc_id, unnest(list_transform(
            range(1, greatest(1, len(tk) - 6)),
            i -> md5(array_to_string(tk[i:i+7], ' ')))) AS g
          FROM (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
            FROM base WHERE len(regexp_split_to_array(trim(text), '\s+'))
              >= 8)),
        keep AS (
          SELECT doc_id, g FROM dg
          WHERE g IN (SELECT g FROM dg GROUP BY g HAVING count(*) <= 50)),
        na AS (
          SELECT doc_id AS a, CAST(count(*) AS BIGINT) AS na
          FROM keep WHERE doc_id >= 2000000 GROUP BY doc_id),
        inter AS (
          SELECT s.doc_id AS a, o.doc_id AS b,
            CAST(count(*) AS BIGINT) AS n_inter
          FROM keep s JOIN keep o ON s.g = o.g
          WHERE s.doc_id >= 2000000 AND o.doc_id < 2000000
          GROUP BY 1, 2)
        SELECT a, b, n_inter, na,
          (n_inter * 1000000) // na AS containment_ppm
        FROM inter JOIN na USING (a)
        WHERE (n_inter * 1000000) // na >= 900000""")),

    // ---- q140: fuzzy key matching at edit distance <= 1 via deletion
    //      neighborhoods (the SymSpell / FastSS blocking scheme): a
    //      string pair is within ED 1 iff their {self} ∪ del1 variant
    //      sets intersect, so candidates come from an EQUI-join on
    //      variant strings — never an all-pairs edit-distance scan —
    //      and an exact levenshtein verify prunes the ED-2 false
    //      candidates the del1∩del1 overlap admits (substitution pairs
    //      collide at the same deleted position). Planted typos: every
    //      7th part key re-derives its name with the (key mod len)-th
    //      character deleted, so every dirty row has a true ED-1 match
    //      in the dictionary by construction and multi-matches /
    //      ED-2 prunes are both exercised. Scale: a length-L key fans
    //      out to <= L+1 skinny (variant, id) rows — the shuffle
    //      carries short strings, the dictionary side is
    //      vocabulary-bounded, and the verify runs only on candidate
    //      pairs. ----
    QueryDef(
      "q140_fuzzy_ed1_join",
      (s, d) => {
        val del1 = (cn: Column) => array_union(
          array(cn),
          transform(sequence(lit(1), length(cn)), i =>
            concat(cn.substr(lit(1), i - lit(1)),
              cn.substr(i + lit(1), length(cn)))))
        val dict = t(s, d, "part").select(col("p_name").as("name")).distinct()
        val pos = pmod(col("p_partkey"), length(col("p_name")))
        val dirty = t(s, d, "part")
          .filter(col("p_partkey") % 7 === 0)
          .select(col("p_partkey").as("dirty_id"),
            concat(col("p_name").substr(lit(1), pos),
              col("p_name").substr(pos + lit(2), length(col("p_name"))))
              .as("dirty_name"))
        val dv = dirty.select(col("dirty_id"), col("dirty_name"),
          explode(del1(col("dirty_name"))).as("variant"))
        val kv = dict.select(col("name"),
          explode(del1(col("name"))).as("variant"))
        dv.join(kv, Seq("variant"))
          .select("dirty_id", "dirty_name", "name")
          .distinct()
          .filter(levenshtein(col("dirty_name"), col("name")) <= 1)
          .select(col("dirty_id"), col("dirty_name"),
            col("name").as("matched_name"),
            levenshtein(col("dirty_name"), col("name")).cast("long")
              .as("lev"))
      },
      Some("""
        WITH dict AS (SELECT DISTINCT p_name AS name FROM part),
        dirty AS (
          SELECT p_partkey AS dirty_id,
            substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
              || substr(p_name,
                   CAST(p_partkey % length(p_name) AS INT) + 2)
              AS dirty_name
          FROM part WHERE p_partkey % 7 = 0),
        dv AS (
          SELECT dirty_id, dirty_name, unnest(list_distinct(list_append(
            list_transform(range(1, length(dirty_name) + 1), i ->
              substr(dirty_name, 1, CAST(i AS INT) - 1)
                || substr(dirty_name, CAST(i AS INT) + 1)),
            dirty_name))) AS variant
          FROM dirty),
        kv AS (
          SELECT name, unnest(list_distinct(list_append(
            list_transform(range(1, length(name) + 1), i ->
              substr(name, 1, CAST(i AS INT) - 1)
                || substr(name, CAST(i AS INT) + 1)),
            name))) AS variant
          FROM dict),
        cand AS (
          SELECT DISTINCT dirty_id, dirty_name, name
          FROM dv JOIN kv USING (variant))
        SELECT dirty_id, dirty_name, name AS matched_name,
          CAST(levenshtein(dirty_name, name) AS BIGINT) AS lev
        FROM cand WHERE levenshtein(dirty_name, name) <= 1""")),

    // ---- q201: token-sort dedup — word-ORDER-invariant duplicate
    //      detection (fuzzywuzzy's token_sort idea): fingerprint =
    //      md5 of the alphabetically sorted token list, so "red small
    //      widget" and "widget small red" collide while shingle-based
    //      dedup (q21/q22) misses them (no shared word n-grams).
    //      Reordered copies are synthesized deterministically (token
    //      reversal, id offset above the doc domain) so both engines
    //      dedup the identical corpus. Same budget as exact dedup:
    //      one fp-keyed shuffle of (id, 16-byte fp); byte-order token
    //      sort is identical in both engines (binary collation). ----
    QueryDef(
      "q201_token_sort_dedup",
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val synth = docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            array_join(reverse(tokens(col("text"))), " ").as("text"))
        docs.unionByName(synth)
          .select(col("doc_id"), col("text"),
            md5(array_join(sort_array(tokens(col("text"))), " ")).as("fp"))
          .groupBy("fp")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("text")).as("n_texts"),
            min(col("doc_id")).as("keep_id"),
            max(col("doc_id")).as("max_id"))
          .filter(col("n_docs") > 1)
      },
      Some("""
        WITH synth AS (
          SELECT doc_id + 10000000 AS doc_id,
            array_to_string(list_reverse(
              regexp_split_to_array(trim(text), '\s+')), ' ') AS text
          FROM documents WHERE doc_id % 5 = 0),
        a AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id, text FROM synth),
        k AS (
          SELECT doc_id, text,
            md5(array_to_string(list_sort(
              regexp_split_to_array(trim(text), '\s+')), ' ')) AS fp
          FROM a)
        SELECT fp, COUNT(*) AS n_docs,
          CAST(COUNT(DISTINCT text) AS BIGINT) AS n_texts,
          MIN(doc_id) AS keep_id, MAX(doc_id) AS max_id
        FROM k GROUP BY fp HAVING COUNT(*) > 1""")),

    // ---- q211: waterfall entity resolution — the MDM match cascade:
    //      rule 1 exact normalized equality, rule 2 edit-distance ≤ 1
    //      (q140's deletion-neighborhood blocking), rule 3 word-order-
    //      invariant token-sort key (q201's fingerprint); the LOWEST
    //      rule that fires wins per record and survivors tie-break
    //      lexicographically. Three dirty classes are planted (case
    //      mangling / char deletion / token reversal) so every rule
    //      fires and the precedence window is exercised. Every rule is
    //      an EQUI-join on a derived key — the cascade adds rules
    //      without ever adding a pair scan. ----
    QueryDef(
      "q211_entity_resolution",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val del1 = (cn: Column) => array_union(
          array(cn),
          transform(sequence(lit(1), length(cn)), i =>
            concat(cn.substr(lit(1), i - lit(1)),
              cn.substr(i + lit(1), length(cn)))))
        val tsk = (cn: Column) =>
          array_join(sort_array(split(lower(trim(cn)), "\\s+")), " ")
        val dict = t(s, d, "part").select(col("p_name").as("name")).distinct()
        val pos = pmod(col("p_partkey"), length(col("p_name")))
        val dirty = t(s, d, "part")
          .filter(col("p_partkey") % 6 === 0)
          .select(col("p_partkey").as("dirty_id"),
            when(expr("p_partkey div 6") % 3 === 0, upper(col("p_name")))
              .when(expr("p_partkey div 6") % 3 === 1,
                concat(col("p_name").substr(lit(1), pos),
                  col("p_name").substr(pos + lit(2),
                    length(col("p_name")))))
              .otherwise(array_join(
                reverse(split(col("p_name"), "\\s+")), " "))
              .as("dirty_name"))
        val r1 = dirty.join(dict,
            lower(trim(col("dirty_name"))) === lower(trim(col("name"))))
          .select(col("dirty_id"), col("dirty_name"), col("name"),
            lit(1L).as("rule"))
        val r2 = dirty
          .select(col("dirty_id"), col("dirty_name"),
            explode(del1(lower(col("dirty_name")))).as("variant"))
          .join(dict.select(col("name"),
            explode(del1(lower(col("name")))).as("variant")),
            Seq("variant"))
          .select("dirty_id", "dirty_name", "name").distinct()
          .filter(
            levenshtein(lower(col("dirty_name")), lower(col("name"))) <= 1)
          .select(col("dirty_id"), col("dirty_name"), col("name"),
            lit(2L).as("rule"))
        val r3 = dirty.withColumn("k", tsk(col("dirty_name")))
          .join(dict.withColumn("k", tsk(col("name"))), Seq("k"))
          .select(col("dirty_id"), col("dirty_name"), col("name"),
            lit(3L).as("rule"))
        val cands = r1.unionByName(r2).unionByName(r3)
        val w = Window.partitionBy("dirty_id")
        cands
          .withColumn("best", min(col("rule")).over(w))
          .filter(col("rule") === col("best"))
          .groupBy("dirty_id", "dirty_name", "rule")
          .agg(min(col("name")).as("matched_name"))
      },
      Some("""
        WITH dict AS (SELECT DISTINCT p_name AS name FROM part),
        dirty AS (
          SELECT p_partkey AS dirty_id,
            CASE
              WHEN (p_partkey // 6) % 3 = 0 THEN upper(p_name)
              WHEN (p_partkey // 6) % 3 = 1 THEN
                substr(p_name, 1,
                  CAST(p_partkey % length(p_name) AS INT))
                || substr(p_name,
                     CAST(p_partkey % length(p_name) AS INT) + 2)
              ELSE array_to_string(list_reverse(
                regexp_split_to_array(p_name, '\s+')), ' ')
            END AS dirty_name
          FROM part WHERE p_partkey % 6 = 0),
        r1 AS (
          SELECT dirty_id, dirty_name, name, 1 AS rule
          FROM dirty JOIN dict
            ON lower(trim(dirty_name)) = lower(trim(name))),
        dv AS (
          SELECT dirty_id, dirty_name, unnest(list_distinct(list_append(
            list_transform(range(1, length(lower(dirty_name)) + 1), i ->
              substr(lower(dirty_name), 1, CAST(i AS INT) - 1)
                || substr(lower(dirty_name), CAST(i AS INT) + 1)),
            lower(dirty_name)))) AS variant
          FROM dirty),
        kv AS (
          SELECT name, unnest(list_distinct(list_append(
            list_transform(range(1, length(lower(name)) + 1), i ->
              substr(lower(name), 1, CAST(i AS INT) - 1)
                || substr(lower(name), CAST(i AS INT) + 1)),
            lower(name)))) AS variant
          FROM dict),
        r2 AS (
          SELECT dirty_id, dirty_name, name, 2 AS rule FROM (
            SELECT DISTINCT dirty_id, dirty_name, name
            FROM dv JOIN kv USING (variant))
          WHERE levenshtein(lower(dirty_name), lower(name)) <= 1),
        r3 AS (
          SELECT dirty_id, dirty_name, name, 3 AS rule
          FROM (SELECT dirty_id, dirty_name,
                  array_to_string(list_sort(regexp_split_to_array(
                    lower(trim(dirty_name)), '\s+')), ' ') AS k
                FROM dirty) a
          JOIN (SELECT name,
                  array_to_string(list_sort(regexp_split_to_array(
                    lower(trim(name)), '\s+')), ' ') AS k
                FROM dict) b USING (k)),
        cands AS (
          SELECT * FROM r1 UNION ALL SELECT * FROM r2
          UNION ALL SELECT * FROM r3),
        best AS (
          SELECT *, MIN(rule) OVER (PARTITION BY dirty_id) AS b
          FROM cands)
        SELECT dirty_id, dirty_name, CAST(rule AS BIGINT) AS rule,
          MIN(name) AS matched_name
        FROM best WHERE rule = b
        GROUP BY 1, 2, 3""")),

    // ---- q216: MinHash calibration audit — how well does the sketch
    //      estimate track exact Jaccard on THIS corpus? A fully
    //      PORTABLE 8-lane minhash (md5 shingle digests pushed through
    //      k universal-hash lanes (a_i·h + b_i) mod 2^31−1 — pure
    //      int64 arithmetic any engine reproduces) generates
    //      candidates by 4 two-lane band joins, then each candidate
    //      pair reports estimated vs exact Jaccard ppm and their
    //      error. The audit a team runs BEFORE trusting LSH recall at
    //      a new corpus; a deterministic 25% doc sample bounds cost
    //      (calibration needs a sample, not the corpus). All joins
    //      are band-key equi-joins; sets ride the pair join only for
    //      surviving candidates. ----
    QueryDef(
      "q216_minhash_calibration",
      (s, d) => {
        val M = 2147483647L
        // conditional spread by doc_id off the single-task scan (guide
        // §2.4/§2.5): the shingle+md5+8-lane kernel below ran on one
        // core and the persisted sigs cache froze that single
        // partition; keyed on doc_id, the two sig-side candidate joins
        // reuse this partitioning with no further exchange. No-op on a
        // many-file table (the gate).
        val docs = graft.operators.InputSpread.byKey(
            t(s, d, "documents").filter(col("doc_id") % 4 === 0),
            col("doc_id"))
          .select(col("doc_id"),
            array_distinct(wordShingles(col("text"), 2)).as("sh"))
          .filter(size(col("sh")) >= 1)
        // one md5 per shingle → 32-bit int (the q57 hex idiom), then
        // 8 universal-hash lanes over the digest
        val hs = transform(col("sh"), x =>
          conv(substring(md5(x), 1, 8), 16, 10).cast("long"))
        val lanes = transform(sequence(lit(0), lit(7)), i => {
          val a = (lit(2654435761L) * (i + 1)) % M
          val b = (lit(1013904223L) * (i + 1)) % M
          array_min(transform(col("hs0"), h => (a * h + b) % M))
        })
        val sigs = docs.withColumn("hs0", hs)
          .select(col("doc_id"), col("sh"), lanes.as("sig"))
          .persist()
        try {
          val bandStructs = array((0 to 3).map(b =>
            struct(lit(b).as("band"),
              element_at(col("sig"), b * 2 + 1).as("l0"),
              element_at(col("sig"), b * 2 + 2).as("l1"))): _*)
          val bands = sigs.select(col("doc_id"), col("sig"),
            explode(bandStructs).as("bk"))
            .select(col("doc_id"), col("sig"), col("bk.*"))
          val cands = bands.as("x")
            .join(bands.as("y"),
              col("x.band") === col("y.band") &&
                col("x.l0") === col("y.l0") &&
                col("x.l1") === col("y.l1") &&
                col("x.doc_id") < col("y.doc_id"))
            .select(col("x.doc_id").as("doc_a"),
              col("y.doc_id").as("doc_b"))
            .distinct()
          val withSets = cands
            .join(sigs.select(col("doc_id").as("doc_a"),
              col("sh").as("sh_a"), col("sig").as("sig_a")), Seq("doc_a"))
            .join(sigs.select(col("doc_id").as("doc_b"),
              col("sh").as("sh_b"), col("sig").as("sig_b")), Seq("doc_b"))
          withSets
            .withColumn("n_eq",
              size(filter(zip_with(col("sig_a"), col("sig_b"),
                (x, y) => x === y), b => b)))
            .withColumn("est_ppm", expr("n_eq * 1000000 div 8"))
            .withColumn("inter",
              size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
            .withColumn("uni",
              (size(col("sh_a")) + size(col("sh_b"))).cast("long") -
                col("inter"))
            .withColumn("exact_ppm", expr("inter * 1000000 div uni"))
            .select(col("doc_a"), col("doc_b"), col("est_ppm"),
              col("exact_ppm"),
              abs(col("est_ppm") - col("exact_ppm")).as("err_ppm"))
        } finally sigs.unpersist()
      },
      Some("""
        WITH docs AS (
          SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(regexp_split_to_array(trim(text), '\s+'))),
              i -> array_to_string(list_slice(
                regexp_split_to_array(trim(text), '\s+'), i, i + 1),
                ' '))) AS sh
          FROM documents
          WHERE doc_id % 4 = 0
            AND len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        hs AS (
          SELECT doc_id, sh,
            list_transform(sh, tk ->
                (strpos('0123456789abcdef', substr(md5(tk), 1, 1)) - 1)
                  * 268435456
              + (strpos('0123456789abcdef', substr(md5(tk), 2, 1)) - 1)
                  * 16777216
              + (strpos('0123456789abcdef', substr(md5(tk), 3, 1)) - 1)
                  * 1048576
              + (strpos('0123456789abcdef', substr(md5(tk), 4, 1)) - 1)
                  * 65536
              + (strpos('0123456789abcdef', substr(md5(tk), 5, 1)) - 1)
                  * 4096
              + (strpos('0123456789abcdef', substr(md5(tk), 6, 1)) - 1)
                  * 256
              + (strpos('0123456789abcdef', substr(md5(tk), 7, 1)) - 1)
                  * 16
              + (strpos('0123456789abcdef', substr(md5(tk), 8, 1)) - 1))
              AS h
          FROM docs),
        sigs AS (
          SELECT doc_id, sh,
            list_transform(range(0, 8), i ->
              list_min(list_transform(h, x ->
                (((2654435761 * (i + 1)) % 2147483647) * x
                  + (1013904223 * (i + 1)) % 2147483647)
                  % 2147483647))) AS sig
          FROM hs),
        bands AS (
          SELECT doc_id, sh, sig, b AS band,
            sig[b * 2 + 1] AS l0, sig[b * 2 + 2] AS l1
          FROM sigs, (SELECT unnest(range(0, 4)) AS b)),
        cands AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.l0 = y.l0 AND x.l1 = y.l1
              AND x.doc_id < y.doc_id),
        scored AS (
          SELECT c.doc_a, c.doc_b,
            len(list_filter(range(1, 9),
              i -> a.sig[i] = b.sig[i])) * 1000000 // 8 AS est_ppm,
            CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000
              // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
              AS exact_ppm
          FROM cands c
          JOIN sigs a ON a.doc_id = c.doc_a
          JOIN sigs b ON b.doc_id = c.doc_b)
        SELECT doc_a, doc_b, est_ppm, exact_ppm,
          abs(est_ppm - exact_ppm) AS err_ppm
        FROM scored""")),

    // ---- q232: dedup-method coverage matrix — which detector catches
    //      which duplicate TYPE? Three dup kinds are planted (exact
    //      copy, token reorder, char drop) and each planted pair is
    //      tested against three fingerprints: exact md5 (q19),
    //      token-sort md5 (q201), and portable 32-bit simhash within
    //      Hamming 3 (q57). The ensemble-design audit: exact-fp misses
    //      reorders, token-sort misses typos, simhash spans both at an
    //      FP cost — this query MEASURES that on the corpus instead of
    //      assuming it. Pairs are known by construction (id offset), so
    //      the audit is one equi-join of fingerprint rows — no
    //      candidate generation. ----
    QueryDef(
      "q232_dedup_coverage",
      (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"), col("text"))
        val pos = pmod(col("doc_id"), length(col("text")))
        val synth = base.filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text"),
            lit("exact_copy").as("kind"))
          .unionByName(base.filter(col("doc_id") % 4 === 2)
            .select((col("doc_id") + 30000000L).as("doc_id"),
              array_join(reverse(tokens(col("text"))), " ").as("text"),
              lit("reorder").as("kind")))
          .unionByName(base.filter(col("doc_id") % 4 === 3)
            .select((col("doc_id") + 40000000L).as("doc_id"),
              concat(col("text").substr(lit(1), pos),
                col("text").substr(pos + lit(2), length(col("text"))))
                .as("text"),
              lit("char_drop").as("kind")))
        val all = base.withColumn("kind", lit("orig")).unionByName(synth)
        val fps = all.select(col("doc_id"), col("kind"),
          md5(normText(col("text"))).as("fp_exact"),
          md5(array_join(sort_array(tokens(col("text"))), " "))
            .as("fp_tsort"),
          graft.functions.HashFunctions
            .simhashMd5(array_distinct(tokens(normText(col("text")))))
            .as("sh"))
        val origs = fps.filter(col("kind") === "orig")
          .select(col("doc_id").as("oid"), col("fp_exact").as("fe"),
            col("fp_tsort").as("ft"), col("sh").as("so"))
        fps.filter(col("kind") =!= "orig")
          .withColumn("oid", col("doc_id") % 10000000L)
          .join(origs, Seq("oid"))
          .groupBy("kind")
          .agg(count(lit(1)).as("n_pairs"),
            sum((col("fp_exact") === col("fe")).cast("long"))
              .as("caught_exact"),
            sum((col("fp_tsort") === col("ft")).cast("long"))
              .as("caught_tsort"),
            sum((expr("bit_count(sh ^ so)") <= 3).cast("long"))
              .as("caught_simhash3"))
      },
      Some("""
        WITH base AS (SELECT doc_id, text FROM documents),
        synth AS (
          SELECT doc_id + 20000000 AS doc_id, text,
            'exact_copy' AS kind
          FROM base WHERE doc_id % 4 = 1
          UNION ALL
          SELECT doc_id + 30000000,
            array_to_string(list_reverse(
              regexp_split_to_array(trim(text), '\s+')), ' '),
            'reorder'
          FROM base WHERE doc_id % 4 = 2
          UNION ALL
          SELECT doc_id + 40000000,
            substr(text, 1, CAST(doc_id % length(text) AS INT))
              || substr(text, CAST(doc_id % length(text) AS INT) + 2),
            'char_drop'
          FROM base WHERE doc_id % 4 = 3),
        a AS (
          SELECT doc_id, text, 'orig' AS kind FROM base
          UNION ALL SELECT doc_id, text, kind FROM synth),
        hs AS (
          SELECT doc_id, kind,
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
              AS fp_exact,
            md5(array_to_string(list_sort(
              regexp_split_to_array(trim(text), '\s+')), ' '))
              AS fp_tsort,
            list_transform(
              list_distinct(regexp_split_to_array(lower(trim(text)),
                '\s+')), tk ->
                (strpos('0123456789abcdef', substr(md5(tk), 1, 1)) - 1)
                  * 268435456
              + (strpos('0123456789abcdef', substr(md5(tk), 2, 1)) - 1)
                  * 16777216
              + (strpos('0123456789abcdef', substr(md5(tk), 3, 1)) - 1)
                  * 1048576
              + (strpos('0123456789abcdef', substr(md5(tk), 4, 1)) - 1)
                  * 65536
              + (strpos('0123456789abcdef', substr(md5(tk), 5, 1)) - 1)
                  * 4096
              + (strpos('0123456789abcdef', substr(md5(tk), 6, 1)) - 1)
                  * 256
              + (strpos('0123456789abcdef', substr(md5(tk), 7, 1)) - 1)
                  * 16
              + (strpos('0123456789abcdef', substr(md5(tk), 8, 1)) - 1))
              AS hv
          FROM a),
        sim AS (
          SELECT doc_id, kind, fp_exact, fp_tsort,
            CAST(list_sum(list_transform(range(0, 32), b ->
              CASE WHEN list_sum(list_transform(hv,
                  h -> 2 * ((h // CAST(2 ** b AS BIGINT)) % 2) - 1)) > 0
                THEN CAST(2 ** b AS BIGINT) ELSE 0 END)) AS BIGINT)
              AS sh
          FROM hs),
        origs AS (
          SELECT doc_id AS oid, fp_exact AS fe, fp_tsort AS ft,
            sh AS so
          FROM sim WHERE kind = 'orig'),
        pairs AS (
          SELECT s.kind, s.fp_exact, s.fp_tsort, s.sh, o.fe, o.ft, o.so
          FROM sim s JOIN origs o ON s.doc_id % 10000000 = o.oid
          WHERE s.kind <> 'orig')
        SELECT kind, COUNT(*) AS n_pairs,
          CAST(SUM(CASE WHEN fp_exact = fe THEN 1 ELSE 0 END)
            AS BIGINT) AS caught_exact,
          CAST(SUM(CASE WHEN fp_tsort = ft THEN 1 ELSE 0 END)
            AS BIGINT) AS caught_tsort,
          CAST(SUM(CASE WHEN bit_count(xor(sh, so)) <= 3
            THEN 1 ELSE 0 END) AS BIGINT) AS caught_simhash3
        FROM pairs GROUP BY kind""")),

    // ---- q238: merge-conflict diagnostic — after exact dedup groups
    //      form (q20's fp families), which clusters can actually be
    //      auto-merged? Per multi-doc fingerprint cluster: member
    //      count and the distinct-value cardinality of each metadata
    //      attribute; any attribute with >1 value is a conflict a
    //      survivorship rule (q208) must adjudicate rather than a
    //      free merge. Mirror-crawl duplicates are planted
    //      deterministically (same text, different source — the
    //      cross-source conflict; every 3rd also same-source — the
    //      auto-mergeable case). One fp-keyed aggregate over (id, fp,
    //      source, lang) — text never joins back. ----
    QueryDef(
      "q238_merge_conflicts",
      (s, d) => {
        val base = t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("source"), col("lang"))
        val mirror = base.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 50000000L).as("doc_id"), col("text"),
            when(col("doc_id") % 18 === 0, col("source"))
              .otherwise(lit("mirror")).as("source"),
            col("lang"))
        base.unionByName(mirror)
          .select(md5(normText(col("text"))).as("fp"),
            col("doc_id"), col("source"), col("lang"))
          .groupBy("fp")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"),
            countDistinct(col("lang")).as("n_langs"),
            min(col("doc_id")).as("keep_id"))
          .filter(col("n_docs") > 1)
          .withColumn("auto_mergeable",
            (col("n_sources") === 1 && col("n_langs") === 1)
              .cast("long"))
      },
      Some("""
        WITH a AS (
          SELECT doc_id, text, source, lang FROM documents
          UNION ALL
          SELECT doc_id + 50000000, text,
            CASE WHEN doc_id % 18 = 0 THEN source
              ELSE 'mirror' END, lang
          FROM documents WHERE doc_id % 6 = 0),
        k AS (
          SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ',
              'g')) AS fp,
            doc_id, source, lang
          FROM a)
        SELECT fp, COUNT(*) AS n_docs,
          CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
          CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
          MIN(doc_id) AS keep_id,
          CAST(CASE WHEN COUNT(DISTINCT source) = 1
            AND COUNT(DISTINCT lang) = 1 THEN 1 ELSE 0 END AS BIGINT)
            AS auto_mergeable
        FROM k GROUP BY fp HAVING COUNT(*) > 1""")),

    // ---- q291: EXACT set-similarity self-join via prefix filtering
    //      (AllPairs/PPJoin — Bayardo et al. WWW'07). The third point
    //      of the dedup triangle: q21 is approximate (LSH recall),
    //      q22 is heuristic (lang blocks miss cross-block pairs) —
    //      this is exact AND global AND never all-pairs: candidates
    //      come from an equi-join on each doc's rarest
    //      sz − ceil(t·sz) + 1 tokens under one global df order
    //      (the prefix-filter lemma guarantees completeness), the
    //      length filter t·|y| ≤ |x| ≤ |y|/t prunes before the pair
    //      dedup, and only surviving candidates re-attach token
    //      arrays for the integer-exact verify (J ≥ 9/10 ⟺
    //      10·inter ≥ 9·union — no float at the boundary). Domain:
    //      3-gram shingle sets at t = 0.9 — the genuine near-dup
    //      band, where the RESULT is linear in corpus size (planted
    //      pairs); word-sets at t = 0.8 would make the output itself
    //      quadratic on this corpus. Shuffle volume is ~(1−t)·Σ|doc|
    //      prefix rows, not |D|². The ORACLE is the brute-force pair
    //      join (quadratic by design, like q22/q40's) — hash equality
    //      proves the filtered plan loses nothing.
    //      PrefixFilterJoinSpec: brute-force parity on seeded random
    //      sets at three thresholds, boundary exactness, no-cartesian
    //      plan assert. ----
    QueryDef(
      "q291_setsim_join",
      (s, d) => {
        // conditional spread + persist (r14): selfJoin consumes this
        // frame THREE times (the token explode feeding the prefix
        // stage + the two verify re-attach joins), and each pass
        // re-ran the tokenize+shingle kernel on the scan's single
        // task. Spread by id so the kernel and the cache are 32-way
        // and the id-keyed verify joins reuse the partitioning; the
        // persisted frame is one row per doc (the lshCandidates
        // precedent — NOT an exploded intermediate, which the r13
        // boundary says never to cache). Embedders clearCache per
        // query (QueryDef contract).
        val ids = graft.operators.InputSpread.byKey(
            t(s, d, "documents").select(col("doc_id"), col("text")),
            col("doc_id"))
          .select(col("doc_id").as("id"),
            wordShingles(col("text"), ShingleN).as("toks"))
          .filter(size(col("toks")) > 0)
          .persist()
        PrefixFilterJoin.selfJoin(ids, p = 9, q = 10)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("inter").cast("long").as("inter"),
            col("size_a").cast("long").as("size_a"),
            col("size_b").cast("long").as("size_b"),
            col("jaccard"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
            regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents),
        d AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
          FROM t WHERE len(toks) >= 3),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            len(list_intersect(a.sh, b.sh)) AS inter,
            len(a.sh) AS size_a, len(b.sh) AS size_b
          FROM d a JOIN d b ON a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
          CAST(size_a AS BIGINT) AS size_a,
          CAST(size_b AS BIGINT) AS size_b,
          CAST(inter AS DOUBLE)
            / CAST(size_a + size_b - inter AS DOUBLE) AS jaccard
        FROM p
        WHERE inter * 10 >= 9 * (size_a + size_b - inter)""")),

    // ---- q298: typo-pair detection via Jaro-Winkler — the
    //      STRING-metric member of the fuzzy-match family (q140 is
    //      edit-distance-1 via deletion neighborhoods; this is the
    //      graded similarity entity-resolution scorers use). The JW
    //      kernel is the graft `jaro_winkler` codegen'd expression,
    //      pinned bit-for-bit to DuckDB's implementation (4000-pair
    //      fuzz during development + this oracle continuously), so
    //      the raw doubles hash-compare exactly — no rounding seam.
    //      Candidates come from a (first-char, length) block
    //      equi-join over the df ≥ 5 vocabulary — vocabulary-sized,
    //      never corpus-sized, and the block key is stated semantics
    //      (same-length initial-preserving typos), not silent recall
    //      loss: the oracle applies the identical blocks. The
    //      synthetic corpus has no natural misspellings, so typo
    //      variants are PLANTED deterministically (q128/q238
    //      precedent): every ≥6-char vocab token contributes its
    //      3↔4 adjacent-transposition twin — the MARTHA/MARHTA
    //      shape, jw ≥ 0.94 by construction. ----
    QueryDef(
      "q298_jaro_winkler_pairs",
      (s, d) => {
        val vocab = t(s, d, "documents")
          .select(explode(split(trim(lower(col("text"))), "\\s+"))
            .as("tok"))
          .filter(col("tok").rlike("^[a-z]{4,12}$"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 5)
          .select("tok")
        val typos = vocab
          .filter(length(col("tok")) >= 6 &&
            substring(col("tok"), 3, 1) =!= substring(col("tok"), 4, 1))
          .select(expr("concat(substring(tok, 1, 2), substring(tok, 4, 1)," +
            " substring(tok, 3, 1), substring(tok, 5))").as("tok"))
        val toks = vocab.unionByName(typos).distinct()
          .select(col("tok"), length(col("tok")).as("len"),
            substring(col("tok"), 1, 1).as("c1"))
        toks.select(col("c1"), col("len"), col("tok").as("tok_a"))
          .join(toks.select(col("c1"), col("len"), col("tok").as("tok_b")),
            Seq("c1", "len"))
          .filter(col("tok_a") < col("tok_b"))
          .withColumn("jw", graft.functions.StringSimilarity
            .jaroWinkler(col("tok_a"), col("tok_b")))
          .filter(col("jw") >= 0.88)
          .select(col("tok_a"), col("tok_b"),
            col("len").cast("long").as("len"), col("jw"))
      },
      Some("""
        WITH tk AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)),
            '\s+')) AS tok
          FROM documents),
        v AS (
          SELECT tok FROM tk
          WHERE regexp_matches(tok, '^[a-z]{4,12}$')
          GROUP BY 1 HAVING COUNT(*) >= 5),
        aug AS (
          SELECT tok FROM v
          UNION
          SELECT concat(substring(tok, 1, 2), substring(tok, 4, 1),
            substring(tok, 3, 1), substring(tok, 5)) AS tok
          FROM v WHERE length(tok) >= 6
            AND substring(tok, 3, 1) <> substring(tok, 4, 1)),
        d AS (
          SELECT tok, length(tok) AS len, substring(tok, 1, 1) AS c1
          FROM aug)
        SELECT a.tok AS tok_a, b.tok AS tok_b,
          CAST(a.len AS BIGINT) AS len,
          jaro_winkler_similarity(a.tok, b.tok) AS jw
        FROM d a JOIN d b
          ON a.c1 = b.c1 AND a.len = b.len AND a.tok < b.tok
        WHERE jaro_winkler_similarity(a.tok, b.tok) >= 0.88""")))
}
