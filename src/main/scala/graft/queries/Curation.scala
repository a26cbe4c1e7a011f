package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, QueryPack}
import graft.core.Tables.t

/** Corpus-curation operators for the LLM-training-data pipeline
  * (SURVEY §7.5 "beyond-parity" set): inter-document repeated-n-gram
  * dedup statistics (Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better"), Gopher-style repetition quality
  * rules (Rae et al. 2021 §A1.1), PII redaction, and deterministic
  * per-source budget sampling (data mixing).
  *
  * Scale design:
  *  - q72 ships ONLY (doc_id, md5(gram)) pairs through the two
  *    gram-keyed shuffles — 16-byte fingerprints, never gram text, the
  *    ids-only discipline of the MinHash pipeline (queries/Dedup.scala).
  *    Shuffle volume is linear in corpus token count.
  *  - q73's three gram-count aggregations are keyed by (doc_id, gram)
  *    then doc_id — both map-side combinable; nothing crosses documents,
  *    so the reduction parallelism is corpus-wide at any scale.
  *  - q74/q75 are pure per-row expressions: zero shuffles, trivially
  *    codegen'd, linear scans at 100 TB.
  *
  * Oracle parity notes: every fraction divides two identical integers
  * (one IEEE division per row in both engines ⇒ bit-identical doubles);
  * regex patterns avoid lookarounds so Java and RE2 agree; the q75
  * sampling byte reuses q53's md5-hex-digit trick (exact in both
  * engines); planted PII suffixes are built by the SAME expressions in
  * Spark and the oracle SQL.
  */
object Curation extends QueryPack {

  /** Whitespace tokens of trimmed text — the ONE tokenizer
    * (TextFunctions.tokens), shared so the curation oracles and the
    * text-function library can never drift apart. */
  private def toks(c: Column): Column =
    graft.functions.TextFunctions.tokens(c)

  /** Per-document repeated-n-gram statistics vs the whole corpus:
    * for each doc, the fraction of its n-gram positions whose n-gram
    * also occurs in at least one OTHER document. Docs shorter than n
    * grams drop out (consistently in both engines).
    *
    * Shape: the compiled [[graft.functions.NgramMd5]] pass emits one
    * 32-hex fingerprint per position; positions collapse to distinct
    * (doc, gram, count) rows FIRST (one map-side-combinable shuffle),
    * so per-gram doc counts are a plain `count(*)` (no distinct
    * aggregation buffers) and the join back touches distinct pairs,
    * not positions. Everything that crosses the wire is (id, 32-hex,
    * small int).
    */
  def ngramDupStats(docs: DataFrame, n: Int): DataFrame = {
    // conditional input spread (no-op on a parallel scan), then ONE
    // consumer of the (doc_id, g) counts: per-gram ndocs is a count
    // over a g-partitioned window, NOT a groupBy(g) + join back
    // (r14). The join form needed gc twice — r13 persisted it to keep
    // the kernel build-once after the spread removed its
    // ReusedExchange point. The window makes the sharing problem
    // disappear: gc flows through ONE g exchange, df is read in
    // place, no cache write, one fewer exchange, strictly fewer
    // shuffled bytes at any scale. Same value: gc holds one row per
    // (doc_id, g), so the g partition row count IS ndocs.
    val gc = graft.operators.InputSpread.byKey(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.HashFunctions.ngramMd5(toks(col("text")), n))
          .as("g"))
      .groupBy("doc_id", "g")
      .agg(count(lit(1)).as("c"))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("g")
    gc
      .withColumn("ndocs", count(lit(1)).over(wg))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_grams"),
        sum(when(col("ndocs") > 1, col("c")).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_frac", col("n_dup_grams") / col("n_grams"))
  }

  /** Gopher-style per-document repetition metrics: most-frequent-token
    * fraction, and the fraction of 2-gram / 3-gram positions covered by
    * within-doc duplicated grams. Thresholds picked from the driver
    * corpus distribution (medians ≈ 0.093 / 0.056 / 0.0) so `keep`
    * splits the corpus.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    // conditional input spread (no-op on a parallel scan): doc_id
    // partitioning clusters every (doc_id, g) gram count, every
    // per-doc rollup AND both per-doc joins below — after it the whole
    // operator is exchange-free — and the three tokenize passes run on
    // every core instead of the single scan task.
    val base = graft.operators.InputSpread.byKey(docs, col("doc_id"))
      .select(col("doc_id"), toks(col("text")).as("tk"))
    // unigrams explode the token array directly; 2/3-grams go through
    // the compiled positional-gram pass (NgramJoin; HOF-equivalence-
    // tested against CurationSpec's `ngrams`)
    def gramCounts(n: Int): DataFrame = base
      .select(col("doc_id"),
        explode(if (n == 1) col("tk")
          else graft.functions.HashFunctions.ngramJoin(col("tk"), n)).as("g"))
      .groupBy("doc_id", "g")
      .agg(count(lit(1)).as("c"))
    val uni = gramCounts(1)
      .groupBy("doc_id")
      .agg(max("c").as("top_cnt"), sum("c").as("n_tok"))
    def dup(n: Int, tag: String): DataFrame = gramCounts(n)
      .groupBy("doc_id")
      .agg(
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as(s"dup$tag"),
        sum("c").as(s"n$tag"))
    uni
      .join(dup(2, "2"), Seq("doc_id"))
      .join(dup(3, "3"), Seq("doc_id"))
      .select(
        col("doc_id"),
        (col("top_cnt") / col("n_tok")).as("top_token_frac"),
        (col("dup2") / col("n2")).as("dup_2gram_frac"),
        (col("dup3") / col("n3")).as("dup_3gram_frac"))
      .withColumn("keep",
        when(col("top_token_frac") <= 0.10 &&
          col("dup_2gram_frac") <= 0.08 &&
          col("dup_3gram_frac") <= 0.05, 1L).otherwise(0L))
  }

  // Lookaround-free patterns, identical semantics in Java and RE2.
  val EmailPat = "[a-z0-9.]+@[a-z]+\\.[a-z]+"
  val PhonePat = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}"
  val IpPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Redact emails → phones → IPs, in that order. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPat, "[EMAIL]"),
        PhonePat, "[PHONE]"),
      IpPat, "[IP]")

  /** Deterministic planted-PII augmentation, shared by q74 and q88:
    * every 5th doc an email, every 7th a phone, every 11th an IP — the
    * raw corpus carries no pattern-shaped PII, so the redactor needs
    * planted targets; built by the SAME expression in both engines. */
  def plantPii(text: Column, docId: Column): Column = concat(
    text,
    when(docId % 5 === 0,
      concat(lit(" reach me at user"), docId.cast("string"),
        lit("@mail.net"))).otherwise(lit("")),
    when(docId % 7 === 0,
      lit(" or call +98-765-4321 today")).otherwise(lit("")),
    when(docId % 11 === 0,
      concat(lit(" from host 10.0."),
        (docId % 256).cast("string"), lit("."),
        (docId % 100).cast("string"))).otherwise(lit("")))

  /** Deterministic next-fit sequence packing into `budget`-token bins,
    * windowed over the composite (source, md5-first-hex) shard key so
    * parallelism is 16× the source count (see q81 notes).
    */
  def sequencePack(docs: DataFrame, budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source", "shard")
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens", size(toks(col("text"))).cast("long"))
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("shard", substring(col("h"), 1, 1))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(cum - n_tokens) DIV $budget"))
      .groupBy("source", "shard", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"))
  }

  def defs: Seq[QueryDef] = Seq(
    // ---- Inter-document repeated 5-gram dedup statistics ----
    QueryDef(
      "q72_ngram_corpus_dedup",
      (s, d) => ngramDupStats(t(s, d, "documents"), 5),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
          FROM documents),
        g AS (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, greatest(len(tk) - 4, 0)),
            i -> md5(array_to_string(tk[i:i+4], ' ')))) AS g
          FROM d),
        pg AS (SELECT g, count(DISTINCT doc_id) AS ndocs FROM g GROUP BY g)
        SELECT g.doc_id,
          count(*) AS n_grams,
          CAST(sum(CASE WHEN pg.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dup_grams,
          CAST(sum(CASE WHEN pg.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS dup_frac
        FROM g JOIN pg USING (g)
        GROUP BY g.doc_id""")),

    // ---- Gopher repetition quality rules ----
    QueryDef(
      "q73_repetition_rules",
      (s, d) => repetitionStats(t(s, d, "documents")),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
          FROM documents),
        u AS (
          SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_tok FROM (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id, unnest(tk) AS g FROM d)
            GROUP BY doc_id, g)
          GROUP BY doc_id),
        d2 AS (
          SELECT doc_id,
            sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup2,
            sum(c) AS n2 FROM (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, greatest(len(tk) - 1, 0)),
                i -> array_to_string(tk[i:i+1], ' '))) AS g
              FROM d)
            GROUP BY doc_id, g)
          GROUP BY doc_id),
        d3 AS (
          SELECT doc_id,
            sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup3,
            sum(c) AS n3 FROM (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, greatest(len(tk) - 2, 0)),
                i -> array_to_string(tk[i:i+2], ' '))) AS g
              FROM d)
            GROUP BY doc_id, g)
          GROUP BY doc_id)
        SELECT u.doc_id,
          u.top_cnt / u.n_tok AS top_token_frac,
          d2.dup2 / d2.n2 AS dup_2gram_frac,
          d3.dup3 / d3.n3 AS dup_3gram_frac,
          CAST(CASE WHEN u.top_cnt / u.n_tok <= 0.10
            AND d2.dup2 / d2.n2 <= 0.08
            AND d3.dup3 / d3.n3 <= 0.05 THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM u
        JOIN d2 USING (doc_id)
        JOIN d3 USING (doc_id)""")),

    // ---- PII redaction over deterministically planted spans ----
    // The driver corpus is letters-only word salad, so PII-bearing
    // suffixes are planted by the SAME expression in both engines
    // (the q26 planted-structure trick): every 5th doc an email, every
    // 7th a phone, every 11th an IP.
    QueryDef(
      "q74_pii_redact",
      (s, d) => {
        t(s, d, "documents")
          .withColumn("aug", plantPii(col("text"), col("doc_id")))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("aug"), lit(EmailPat), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("aug"), lit(PhonePat), lit(0)))
              .cast("long").as("n_phones"),
            size(regexp_extract_all(col("aug"), lit(IpPat), lit(0)))
              .cast("long").as("n_ips"),
            redactPii(col("aug")).as("redacted"))
      },
      Some("""
        WITH a AS (
          SELECT doc_id, text
            || CASE WHEN doc_id % 5 = 0 THEN ' reach me at user'
                 || CAST(doc_id AS VARCHAR) || '@mail.net' ELSE '' END
            || CASE WHEN doc_id % 7 = 0
                 THEN ' or call +98-765-4321 today' ELSE '' END
            || CASE WHEN doc_id % 11 = 0 THEN ' from host 10.0.'
                 || CAST(doc_id % 256 AS VARCHAR) || '.'
                 || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS aug
          FROM documents)
        SELECT doc_id,
          len(regexp_extract_all(aug,
            '[a-z0-9.]+@[a-z]+\.[a-z]+')) AS n_emails,
          len(regexp_extract_all(aug,
            '\+[0-9]{2}-[0-9]{3}-[0-9]{4}')) AS n_phones,
          len(regexp_extract_all(aug,
            '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
          regexp_replace(regexp_replace(regexp_replace(aug,
            '[a-z0-9.]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g'),
            '\+[0-9]{2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
            '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g')
            AS redacted
        FROM a""")),

    // ---- Deterministic per-source budget sampling (data mixing) ----
    // Each source family gets a dyadic keep-rate (1, 1/2, 3/4, 1/4 by
    // source index mod 4); the keep decision reuses q53's md5-first-
    // byte trick so the sample is reproducible and exact in both
    // engines, and every kept row carries its importance weight
    // (256/threshold — one IEEE division of identical ints).
    QueryDef(
      "q75_budget_sample",
      (s, d) => {
        val hex = lit("0123456789abcdef")
        val h = md5(concat(lit("mix:"), col("doc_id").cast("string")))
        val b =
          (instr(hex, substring(h, 1, 1)) - 1) * 16 +
            (instr(hex, substring(h, 2, 1)) - 1)
        val srcIdx = substring(col("source"), 4, 10).cast("int") % 4
        val thr = when(srcIdx === 0, 256)
          .when(srcIdx === 1, 128)
          .when(srcIdx === 2, 192)
          .otherwise(64)
        t(s, d, "documents")
          .withColumn("thr", thr)
          .withColumn("b", b)
          .filter(col("b") < col("thr"))
          .select(
            col("doc_id"), col("source"), col("lang"), col("n_chars"),
            (col("thr").cast("double") / 256.0).as("rate"),
            (lit(256.0) / col("thr")).as("weight"))
      },
      Some("""
        WITH a AS (
          SELECT doc_id, source, lang, n_chars,
            (strpos('0123456789abcdef',
              substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
              * 16 +
            (strpos('0123456789abcdef',
              substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
              AS b,
            CASE CAST(substr(source, 4) AS INT) % 4
              WHEN 0 THEN 256 WHEN 1 THEN 128 WHEN 2 THEN 192
              ELSE 64 END AS thr
          FROM documents)
        SELECT doc_id, source, lang, n_chars,
          CAST(thr AS DOUBLE) / 256.0 AS rate,
          256.0 / thr AS weight
        FROM a WHERE b < thr""")),

    // ---- Domain-level blocklist filtering (C4-style) ----
    // Web-corpus curation stage: parse each document's URL, drop
    // blocklisted domains, report per-domain corpus mass. URLs are
    // planted deterministically (the corpus has none), the domain comes
    // out of the same regex in both engines, and the blocklist is a
    // literal broadcast — the corpus is scanned once, the only shuffle
    // is the final domain-keyed aggregate (23 keys, map-side combined).
    QueryDef(
      "q80_domain_filter",
      (s, d) => {
        val url = concat(lit("https://site"),
          (col("doc_id") % 23).cast("string"), lit(".example/p/"),
          col("doc_id").cast("string"))
        val blocked = Seq("site0.example", "site7.example", "site14.example")
        t(s, d, "documents")
          .withColumn("domain",
            regexp_extract(url, "https://([a-z0-9.]+)/", 1))
          .filter(!col("domain").isin(blocked: _*))
          .groupBy("domain")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
      },
      Some("""
        WITH u AS (
          SELECT doc_id, n_chars,
            regexp_extract('https://site' || CAST(doc_id % 23 AS VARCHAR)
              || '.example/p/' || CAST(doc_id AS VARCHAR),
              'https://([a-z0-9.]+)/', 1) AS domain
          FROM documents)
        SELECT domain, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM u
        WHERE domain NOT IN
          ('site0.example', 'site7.example', 'site14.example')
        GROUP BY domain""")),

    // ---- Sequence packing into token-budget context windows ----
    // The pretraining batch-prep op: documents are packed into
    // fixed-budget (2048-token) bins, deterministically — docs stream
    // in md5 order within their (source, shard) slice and bin id is
    // the number of full budgets before the doc starts (cumulative-sum
    // binning, the streaming next-fit approximation; a bin can
    // overflow by less than one doc at a boundary, which real packers
    // handle by splitting the straddling doc). Output: per
    // (source, shard, bin) packing manifest. Scale: the shard key is
    // the COMPOSITE (source, md5-first-hex) — 16 shards per source —
    // so window parallelism is 16× the source count and a single hot
    // source at 100 TB fans out across shards instead of collapsing
    // to one sort task (widen the prefix to 2–3 hex digits for
    // 256–4096 shards/source as the corpus grows); the cumsum is one
    // sort per shard, no global order anywhere.
    QueryDef(
      "q81_sequence_pack",
      (s, d) => sequencePack(t(s, d, "documents"), 2048),
      Some("""
        WITH t AS (
          SELECT doc_id, source,
            md5(CAST(doc_id AS VARCHAR)) AS h,
            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
            len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, source, shard, n_tokens,
            SUM(n_tokens) OVER (PARTITION BY source, shard
              ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t)
        SELECT source, shard,
          CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
          COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
          MIN(doc_id) AS first_doc
        FROM c
        GROUP BY source, shard,
          CAST((cum - n_tokens) // 2048 AS BIGINT)""")),

    // ---- Per-document TF-IDF top terms (keyword extraction) ----
    // The per-doc corpus-weighted term profile (BM25/q52 scores a
    // QUERY against docs; this weights every doc's own terms): term
    // counts per doc (one map-side-combinable shuffle), document
    // frequency from the same distinct pairs (second shuffle), the
    // corpus size as a one-row broadcast, and a per-doc window keeps
    // the top 5. The idf is the probabilistic (odds-ratio) form,
    // tfidf = c · (N − df + 0.5)/(df + 0.5) — q52's discipline: ln()
    // differs by 1 ulp between libm and the JVM on some inputs
    // (measured: 139/2500 rows), while ints into one division keep
    // every value bit-exact cross-engine; ties break on the term.
    QueryDef(
      "q82_tfidf_terms",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents")
        val tc = docs
          .select(col("doc_id"), explode(toks(col("text"))).as("term"))
          .groupBy("doc_id", "term")
          .agg(count(lit(1)).as("c"))
        val df_ = tc.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term").asc)
        tc.join(df_, Seq("term"))
          .crossJoin(broadcast(n))
          .withColumn("tfidf",
            col("c") * ((col("n_docs") - col("df") + 0.5) /
              (col("df") + 0.5)))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 5)
          .select("doc_id", "rk", "term", "tfidf")
      },
      Some("""
        WITH tc AS (
          SELECT doc_id, g AS term, count(*) AS c FROM (
            SELECT doc_id,
              unnest(regexp_split_to_array(trim(text), '\s+')) AS g
            FROM documents)
          GROUP BY doc_id, g),
        df AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tc.doc_id, tc.term,
            tc.c * ((n.n_docs - df.df + 0.5) / (df.df + 0.5)) AS tfidf
          FROM tc JOIN df USING (term) CROSS JOIN n)
        SELECT doc_id,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, term ASC) AS rk,
          term, tfidf
        FROM scored
        QUALIFY rk <= 5""")),

    // ---- Composed curation pipeline (the CurationStream spine as a
    //      batch oracle): quality gates → PII redaction → content-
    //      fingerprint exact dedup, certified end-to-end rather than
    //      per-operator. The input plants PII (q74's augmentation) and
    //      exact re-crawl twins (every 10th doc re-keyed +1e6 with
    //      identical text), so the redactor and the dedup are both
    //      load-bearing: twins share a post-redaction fingerprint and
    //      the lower doc_id wins, deterministically in both engines.
    //      Output: per-source curation manifest — gated doc count, kept
    //      count after dedup, redacted-doc count, kept token mass, and
    //      the min/max surviving fingerprints (a driver-comparable
    //      digest of WHICH rows survived, not just how many).
    //      Scale: gates+redaction are map-only per-row expressions
    //      (zero shuffles before state, exactly like the streaming
    //      form); the dedup window keys on the 32-hex fingerprint —
    //      ids-only state, never text; the final rollup is one
    //      map-side-combinable source-keyed aggregate. ----
    QueryDef(
      "q88_curation_pipeline",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents")
          .select(col("doc_id"),
            plantPii(col("text"), col("doc_id")).as("text"),
            col("source"))
        val twins = docs.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id",
            col("doc_id") + lit(Similarity.TwinIdOffset))
        val curated = graft.streaming.CurationStream.curate(
          docs.unionByName(twins))
        // project to skinny rows BEFORE the dedup window: the redaction
        // evidence collapses to one boolean, so the fp-keyed exchange
        // carries (id, source, count, 32-hex, flag) — never document
        // text (plan-asserted in NewQueryPlanSpec)
        val slim = curated.select(
          col("doc_id"), col("source"), col("n_tokens"), col("fp"),
          col("text").rlike("\\[(EMAIL|PHONE|IP)\\]").as("redacted"))
        val w = Window.partitionBy("fp").orderBy("doc_id")
        slim
          .withColumn("rn", row_number().over(w))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_curated"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("rn") === 1 && col("redacted"), 1L)
              .otherwise(0L)).as("n_redacted"),
            sum(when(col("rn") === 1, col("n_tokens")).otherwise(0L))
              .as("sum_tokens"),
            min(when(col("rn") === 1, col("fp"))).as("min_fp"),
            max(when(col("rn") === 1, col("fp"))).as("max_fp"))
      },
      Some("""
        WITH aug AS (
          SELECT doc_id, source, text
            || CASE WHEN doc_id % 5 = 0 THEN ' reach me at user'
                 || CAST(doc_id AS VARCHAR) || '@mail.net' ELSE '' END
            || CASE WHEN doc_id % 7 = 0
                 THEN ' or call +98-765-4321 today' ELSE '' END
            || CASE WHEN doc_id % 11 = 0 THEN ' from host 10.0.'
                 || CAST(doc_id % 256 AS VARCHAR) || '.'
                 || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS text
          FROM documents),
        alldocs AS (
          SELECT doc_id, source, text FROM aug
          UNION ALL
          SELECT doc_id + """ + Similarity.TwinIdOffset + """, source, text
          FROM aug WHERE doc_id % 10 = 0),
        cur AS (
          SELECT doc_id, source,
            len(regexp_split_to_array(trim(text), '\s+'))::BIGINT
              AS n_tokens,
            CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              AS DOUBLE) / len(text) AS alpha_ratio,
            regexp_replace(regexp_replace(regexp_replace(text,
              '[a-z0-9.]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g'),
              '\+[0-9]{2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
              '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
              '[IP]', 'g') AS rtext
          FROM alldocs),
        gated AS (
          SELECT doc_id, source, n_tokens, rtext,
            md5(regexp_replace(lower(trim(rtext)), '\s+', ' ', 'g')) AS fp
          FROM cur
          WHERE n_tokens >= 5 AND alpha_ratio >= 0.5),
        marked AS (
          SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
            AS rn
          FROM gated)
        SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_curated,
          CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_kept,
          CAST(SUM(CASE WHEN rn = 1 AND regexp_matches(rtext,
            '\[(EMAIL|PHONE|IP)\]') THEN 1 ELSE 0 END) AS BIGINT)
            AS n_redacted,
          CAST(SUM(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
            AS sum_tokens,
          MIN(CASE WHEN rn = 1 THEN fp END) AS min_fp,
          MAX(CASE WHEN rn = 1 THEN fp END) AS max_fp
        FROM marked
        GROUP BY source""")),

    // ---- q90: C4-style corpus line dedup (Raffel et al. 2020 §2.2:
    //      drop any line occurring >= 3 times in the corpus, keep doc
    //      order otherwise). The synthetic docs carry no newlines, so
    //      line structure is PLANTED by the same expression in both
    //      engines (the q88 idiom): boilerplate header/footer lines on
    //      deterministic doc_id residues — exactly the repeated
    //      navigation/footer text this operator exists to strip.
    //      Scale: the counting path explodes (doc_id, pos, md5(line))
    //      triples ONLY — the corpus-wide line-frequency shuffle
    //      carries 16-byte fingerprints, never text. Removal positions
    //      collapse to one small int-array row per affected doc
    //      (ids-only shuffle), and text is touched by a single
    //      doc_id-keyed join Catalyst broadcasts while the removal set
    //      is small and merges when it is not; the per-doc reassembly
    //      is a map-side array expression, never a sort of exploded
    //      text rows. ----
    QueryDef(
      "q90_line_dedup",
      (s, d) => {
        val aug = t(s, d, "documents").select(
          col("doc_id"),
          concat(
            when(col("doc_id") % 3 === 0,
              lit("subscribe to our newsletter for updates\n"))
              .otherwise(lit("")),
            col("text"),
            when(col("doc_id") % 4 === 0,
              lit("\nall rights reserved by the site owner"))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              lit("\nclick here to read more")).otherwise(lit("")))
            .as("t"))
        val slim = aug
          .select(col("doc_id"), posexplode(split(col("t"), "\n")))
          .select(col("doc_id"), col("pos"), md5(col("col")).as("fp"))
        val dupFps = slim.groupBy("fp")
          .agg(count(lit(1)).as("c")).filter(col("c") >= 3).select("fp")
        val removed = slim.join(dupFps, "fp")
          .groupBy("doc_id").agg(collect_list(col("pos")).as("rm"))
        aug.join(removed, Seq("doc_id"), "left")
          .withColumn("rm",
            coalesce(col("rm"), array().cast("array<int>")))
          .withColumn("lines", split(col("t"), "\n"))
          .select(
            col("doc_id"),
            array_join(
              transform(
                filter(sequence(lit(0), size(col("lines")) - 1),
                  i => !array_contains(col("rm"), i)),
                i => element_at(col("lines"), i + 1)),
              "\n").as("cleaned_text"),
            (size(col("lines")) - size(col("rm"))).cast("long")
              .as("n_kept"),
            size(col("rm")).cast("long").as("n_removed"))
      },
      Some("""
        WITH aug AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0
              THEN 'subscribe to our newsletter for updates' || chr(10)
              ELSE '' END
            || text
            || CASE WHEN doc_id % 4 = 0
              THEN chr(10) || 'all rights reserved by the site owner'
              ELSE '' END
            || CASE WHEN doc_id % 5 = 0
              THEN chr(10) || 'click here to read more' ELSE '' END AS t
          FROM documents),
        lines AS (
          SELECT doc_id,
            unnest(range(0, len(parts))) AS pos,
            unnest(parts) AS line
          FROM (SELECT doc_id, string_split(t, chr(10)) AS parts
                FROM aug)),
        dup AS (
          SELECT line FROM lines GROUP BY line HAVING count(*) >= 3)
        SELECT l.doc_id,
          coalesce(string_agg(CASE WHEN d.line IS NULL THEN l.line END,
            chr(10) ORDER BY l.pos), '') AS cleaned_text,
          CAST(count(CASE WHEN d.line IS NULL THEN 1 END) AS BIGINT)
            AS n_kept,
          CAST(count(d.line) AS BIGINT) AS n_removed
        FROM lines l
        LEFT JOIN dup d ON d.line = l.line
        GROUP BY l.doc_id""")),

    // ---- q91: deterministic epoch shuffle into training shards.
    //      Every epoch of training wants the corpus in a NEW
    //      pseudo-random but REPRODUCIBLE order, laid out as N shard
    //      files: position = rank of md5(seed || doc_id) within the
    //      shard. The physical plan is exactly the one that survives
    //      100 TB — one hash-keyed exchange of skinny (shard, h, id,
    //      n_tokens) rows plus an in-partition sort; document text
    //      never moves, and parallelism is the shard count (64 here —
    //      the knob scales with corpus size exactly like q81's shard
    //      prefix). The manifest certifies the full permutation
    //      WITHOUT collecting members: a positional checksum
    //      sum(position * (doc_id % 997 + 1)) pins every doc's rank —
    //      any transposition changes it — while staying a map-side-
    //      combinable aggregate. ----
    QueryDef(
      "q91_epoch_shuffle",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hex = lit("0123456789abcdef")
        val h = md5(concat(lit("epoch0:"), col("doc_id").cast("string")))
        val shard =
          ((instr(hex, substring(col("h"), 1, 1)) - 1) * 16 +
            (instr(hex, substring(col("h"), 2, 1)) - 1)) % 64
        val slim = t(s, d, "documents")
          .select(col("doc_id"), size(toks(col("text"))).as("nt"))
          .withColumn("h", h)
          .withColumn("shard", shard.cast("long"))
        val w = Window.partitionBy("shard").orderBy("h", "doc_id")
        slim
          .withColumn("rn", row_number().over(w).cast("long"))
          .groupBy("shard")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("nt").cast("long")).as("sum_tokens"),
            min(col("h")).as("min_h"),
            max(col("h")).as("max_h"),
            sum(col("rn") * (col("doc_id") % 997 + 1)).as("poschk"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
            len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS nt,
            md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS hx
          FROM documents),
        s AS (
          SELECT *,
            CAST(((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)) % 64
              AS BIGINT) AS shard
          FROM h),
        r AS (
          SELECT *, row_number()
            OVER (PARTITION BY shard ORDER BY hx, doc_id) AS rn
          FROM s)
        SELECT shard,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(nt) AS BIGINT) AS sum_tokens,
          MIN(hx) AS min_h,
          MAX(hx) AS max_h,
          CAST(SUM(rn * (doc_id % 997 + 1)) AS BIGINT) AS poschk
        FROM r GROUP BY shard""")),

    // ---- q92: frequency-built vocabulary + per-document OOV rate —
    //      the tokenizer-prep operator (which K tokens cover the
    //      corpus, and how much of each doc falls outside them).
    //      Scale: the token-frequency aggregate is map-side
    //      combinable; the top-K cut is a TakeOrdered (O(K) per
    //      partition, no global sort); the K-row vocabulary
    //      BROADCASTS back, so the per-doc OOV reduction is one
    //      doc_id-keyed combinable aggregate — the corpus shuffles
    //      once on token text (inherent to counting) and never again.
    //      Boundary ties at rank K break on (count DESC, token ASC)
    //      in both engines. ----
    QueryDef(
      "q92_vocab_oov",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        val vocab = tk.groupBy("tok").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok").asc).limit(30)
          .select(col("tok"), lit(1).as("in_vocab"))
        tk.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
              .as("n_oov"))
          .withColumn("oov_rate",
            col("n_oov").cast("double") / col("n_tokens").cast("double"))
      },
      Some("""
        WITH tk AS (
          SELECT doc_id,
            unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        vocab AS (
          SELECT tok FROM tk GROUP BY tok
          ORDER BY count(*) DESC, tok LIMIT 30),
        j AS (
          SELECT t.doc_id,
            CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
          FROM tk t LEFT JOIN vocab v ON v.tok = t.tok)
        SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(oov) AS BIGINT) AS n_oov,
          CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS oov_rate
        FROM j GROUP BY doc_id""")),

    // ---- q93: incremental dedup — a NEW crawl batch deduplicated
    //      against the EXISTING corpus (the production shape of q20:
    //      nightly crawls never re-dedup the whole lake). A new doc
    //      survives iff its canonical fingerprint is absent from the
    //      corpus AND it is the first occurrence within the batch.
    //      Planted structure (same expressions both engines): re-crawls
    //      of corpus docs arrive UPPERCASED (proving canonicalization
    //      catches them) and some fresh docs arrive twice.
    //      Scale: the corpus side ships DISTINCT 16-byte fingerprints
    //      only; one fp-keyed left join + one fp-keyed first-occurrence
    //      window over (id, source, fp) rows — document text never
    //      leaves the scan, and the corpus fingerprint set is exactly
    //      the artifact a real lake maintains incrementally. ----
    QueryDef(
      "q93_incremental_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // the ONE canonical dedup fingerprint (shared with
        // CurationStream and the q88 oracle idiom) — incremental dedup
        // must stay compatible with the lake's fingerprint set
        def fpOf(c: Column) =
          md5(graft.functions.TextFunctions.normText(c))
        val docs = t(s, d, "documents")
        val corpus = docs.filter(col("doc_id") % 4 =!= 0)
        val fresh = docs.filter(col("doc_id") % 4 === 0)
          .select(col("doc_id"), col("source"), col("text"))
        val recrawl = corpus.filter(col("doc_id") % 20 === 1)
          .select((col("doc_id") + lit(2000000L)).as("doc_id"),
            col("source"), upper(col("text")).as("text"))
        val batchDup = docs.filter(col("doc_id") % 20 === 8)
          .select((col("doc_id") + lit(3000000L)).as("doc_id"),
            col("source"), col("text"))
        val newFp = fresh.unionByName(recrawl).unionByName(batchDup)
          .select(col("doc_id"), col("source"),
            fpOf(col("text")).as("fp"))
        val corpusFp = corpus.select(fpOf(col("text")).as("fp"))
          .distinct().withColumn("in_corpus", lit(1L))
        val w = Window.partitionBy("fp").orderBy("doc_id")
        newFp.join(corpusFp, Seq("fp"), "left")
          .withColumn("rn", row_number().over(w))
          .select(
            col("doc_id"), col("source"), col("fp"),
            when(col("in_corpus").isNotNull, 1L).otherwise(0L)
              .as("dup_corpus"),
            when(col("rn") > 1, 1L).otherwise(0L).as("dup_batch"),
            when(col("in_corpus").isNull && col("rn") === 1, 1L)
              .otherwise(0L).as("keep"))
      },
      Some("""
        WITH newcrawl AS (
          SELECT doc_id, source, text FROM documents WHERE doc_id % 4 = 0
          UNION ALL
          SELECT doc_id + 2000000, source, upper(text) FROM documents
          WHERE doc_id % 4 <> 0 AND doc_id % 20 = 1
          UNION ALL
          SELECT doc_id + 3000000, source, text FROM documents
          WHERE doc_id % 20 = 8),
        newfp AS (
          SELECT doc_id, source,
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM newcrawl),
        corpusfp AS (
          SELECT DISTINCT
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM documents WHERE doc_id % 4 <> 0),
        marked AS (
          SELECT n.doc_id, n.source, n.fp,
            CASE WHEN c.fp IS NULL THEN 0 ELSE 1 END AS dup_corpus,
            row_number() OVER (PARTITION BY n.fp ORDER BY n.doc_id) AS rn
          FROM newfp n LEFT JOIN corpusfp c ON c.fp = n.fp)
        SELECT doc_id, source, fp,
          CAST(dup_corpus AS BIGINT) AS dup_corpus,
          CAST(CASE WHEN rn > 1 THEN 1 ELSE 0 END AS BIGINT) AS dup_batch,
          CAST(CASE WHEN dup_corpus = 0 AND rn = 1 THEN 1 ELSE 0 END
            AS BIGINT) AS keep
        FROM marked""")),

    // ---- q94: temperature-based data mixing — per-source sampling
    //      weights ∝ n^(1/2) (temperature 2 re-weighting: up-samples
    //      small sources, damps the head — the mixing rule behind
    //      multilingual/multi-source training corpora), realized as
    //      deterministic hash sampling at the derived per-source rate.
    //      Cross-engine exactness by RATIONAL ARITHMETIC (q52's
    //      ln-free discipline): sqrt(n) is quantized to the integer
    //      m = floor(sqrt(n)·2^20) (sqrt is IEEE-correctly-rounded in
    //      both engines; ·2^20 scales the exponent exactly), so the
    //      weight denominator is an exact INTEGER sum — never a
    //      float reduction whose order could differ — and every
    //      emitted double is ONE division of two exact integers. The
    //      keep decision compares a 16-bit md5 value against
    //      floor(rate·2^16): integers again.
    //      Scale: one count aggregate, a 1-row denominator broadcast,
    //      a tiny rates broadcast joined map-side, one combinable
    //      per-source rollup — the corpus is scanned once and never
    //      shuffles on content. ----
    QueryDef(
      "q94_temperature_mix",
      (s, d) => {
        val hex = lit("0123456789abcdef")
        val docs = t(s, d, "documents")
        val counts = docs.groupBy("source")
          .agg(count(lit(1)).as("n_total"))
          .withColumn("m",
            floor(sqrt(col("n_total").cast("double")) * 1048576.0)
              .cast("long"))
        val denom = counts.agg(sum(col("m")).as("denom"))
        val target = lit(300L)
        val rates = counts.crossJoin(broadcast(denom))
          .withColumn("mix_weight",
            col("m").cast("double") / col("denom").cast("double"))
          .withColumn("keep_rate",
            least(lit(1.0), (target * col("m")).cast("double") /
              (col("denom") * col("n_total")).cast("double")))
          .withColumn("thr",
            floor(col("keep_rate") * 65536.0).cast("long"))
        val h = md5(concat(lit("mix:"), col("doc_id").cast("string")))
        def hx(i: Int) = instr(hex, substring(col("h"), i, 1)) - 1
        val kept = docs
          .withColumn("h", h)
          .withColumn("hv",
            (hx(1) * 4096 + hx(2) * 256 + hx(3) * 16 + hx(4)).cast("long"))
          .join(broadcast(rates.select("source", "thr")), Seq("source"))
          .filter(col("hv") < col("thr"))
          .groupBy("source").agg(count(lit(1)).as("n_kept"))
        rates
          .join(kept, Seq("source"), "left")
          .select(col("source"), col("n_total"), col("mix_weight"),
            col("keep_rate"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      },
      Some("""
        WITH c AS (
          SELECT source, COUNT(*)::BIGINT AS n_total
          FROM documents GROUP BY source),
        w AS (
          SELECT *, CAST(floor(sqrt(n_total::DOUBLE) * 1048576)
            AS BIGINT) AS m
          FROM c),
        d AS (SELECT CAST(SUM(m) AS BIGINT) AS denom FROM w),
        r AS (
          SELECT w.source, w.n_total,
            m::DOUBLE / denom::DOUBLE AS mix_weight,
            least(1.0, (300 * m)::DOUBLE / (denom * n_total)::DOUBLE)
              AS keep_rate,
            CAST(floor(least(1.0,
              (300 * m)::DOUBLE / (denom * n_total)::DOUBLE) * 65536)
              AS BIGINT) AS thr
          FROM w, d),
        k AS (
          SELECT source, COUNT(*)::BIGINT AS n_kept
          FROM (
            SELECT source,
              (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS hv,
              thr
            FROM (SELECT source,
                    md5('mix:' || CAST(doc_id AS VARCHAR)) AS h
                  FROM documents) JOIN r USING (source))
          WHERE hv < thr GROUP BY source)
        SELECT r.source, r.n_total, r.mix_weight, r.keep_rate,
          COALESCE(k.n_kept, 0) AS n_kept
        FROM r LEFT JOIN k USING (source)""")),

    // ---- q95: UniMax epoch-capped budget allocation (Chung et al.
    //      2023) — the OTHER canonical mixing rule next to q94's
    //      temperature sampling: spread a token budget as uniformly as
    //      possible across sources subject to a per-source epoch cap,
    //      i.e. water-filling alloc_i = min(cap_i, θ) with θ chosen so
    //      Σ alloc = B. Closed form, no iteration: sort capacities
    //      ascending; source i is capped iff the budget left after
    //      fully granting sources 1..i still funds every later source
    //      at ≥ cap_i — the exact predicate cap_i·(k−i) ≤ B − prefix_i,
    //      ALL INTEGERS (the capped set is prefix-closed, so one
    //      max-over-flag aggregate finds the waterline). θ and the
    //      per-source epochs are each ONE integer division/ratio.
    //      Scale: one corpus-pass token count (map-side combinable);
    //      everything after runs on a #sources-row table (tiny by
    //      definition) — the single-partition window is over ≤ a few
    //      thousand rows at any corpus size, and the scalar waterline
    //      broadcasts back. Per-source epoch caps are planted
    //      deterministically (1 + md5 nibble mod 3 ∈ {1,2,3}) by the
    //      same expression in both engines so caps genuinely bind. ----
    QueryDef(
      "q95_unimax_mix",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val caps = t(s, d, "documents")
          .groupBy("source")
          .agg(sum(size(toks(col("text"))).cast("long")).as("n_tokens"))
          .withColumn("epoch_cap",
            (instr(lit("0123456789abcdef"),
              substring(md5(concat(lit("cap:"), col("source"))), 1, 1))
              - 1) % 3 + 1)
          .withColumn("cap_tokens",
            col("epoch_cap").cast("long") * col("n_tokens"))
        val totals = caps.agg(
          sum(col("n_tokens")).as("budget"),
          count(lit(1)).as("k"))
        // caps is one row per SOURCE (corpus cardinality K, ~dozens) —
        // the waterline scan is inherently sequential over those K rows.
        // Partitioning on the broadcast `k` attribute (single-valued by
        // construction, but an attribute the optimizer can't fold away)
        // makes the bounded-single-partition intent explicit in the
        // plan — no unpartitioned WindowExec.
        val ranked = caps.crossJoin(broadcast(totals))
          .withColumn("i",
            row_number().over(
              w.partitionBy(col("k"))
                .orderBy(col("cap_tokens"), col("source"))))
          .withColumn("prefix",
            sum(col("cap_tokens")).over(
              w.partitionBy(col("k"))
                .orderBy(col("cap_tokens"), col("source"))
                .rowsBetween(w.unboundedPreceding, w.currentRow)))
          .withColumn("is_capped",
            (col("cap_tokens") * (col("k") - col("i"))
              <= col("budget") - col("prefix")).cast("long"))
        val waterline = ranked.agg(
          coalesce(max(when(col("is_capped") === 1, col("i"))), lit(0L))
            .as("m"),
          coalesce(max(when(col("is_capped") === 1, col("prefix"))),
            lit(0L)).as("prefix_m"))
        ranked.crossJoin(broadcast(waterline))
          .withColumn("alloc_tokens",
            when(col("is_capped") === 1, col("cap_tokens"))
              .otherwise(expr(
                "(budget - prefix_m) div (k - m)").cast("long")))
          .withColumn("alloc_epochs",
            col("alloc_tokens").cast("double")
              / col("n_tokens").cast("double"))
          .select(col("source"), col("n_tokens"),
            col("epoch_cap").cast("long").as("epoch_cap"),
            col("cap_tokens"), col("is_capped"),
            col("alloc_tokens"), col("alloc_epochs"))
      },
      Some("""
        WITH caps AS (
          SELECT source,
            CAST(SUM(len(regexp_split_to_array(trim(text), '\s+')))
              AS BIGINT) AS n_tokens,
            ((strpos('0123456789abcdef',
                substr(md5('cap:' || source), 1, 1)) - 1) % 3 + 1)
              AS epoch_cap
          FROM documents GROUP BY source),
        c2 AS (
          SELECT *, CAST(epoch_cap AS BIGINT) * n_tokens AS cap_tokens
          FROM caps),
        tot AS (
          SELECT CAST(SUM(n_tokens) AS BIGINT) AS budget,
            COUNT(*)::BIGINT AS k
          FROM c2),
        ranked AS (
          SELECT c2.*, tot.budget, tot.k,
            CAST(row_number() OVER
              (ORDER BY cap_tokens, source) AS BIGINT) AS i,
            CAST(SUM(cap_tokens) OVER
              (ORDER BY cap_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS prefix
          FROM c2, tot),
        flagged AS (
          SELECT *,
            CASE WHEN cap_tokens * (k - i) <= budget - prefix
              THEN 1 ELSE 0 END::BIGINT AS is_capped
          FROM ranked),
        wl AS (
          SELECT COALESCE(MAX(CASE WHEN is_capped = 1 THEN i END), 0)
              AS m,
            COALESCE(MAX(CASE WHEN is_capped = 1 THEN prefix END), 0)
              AS prefix_m
          FROM flagged)
        SELECT source, n_tokens, CAST(epoch_cap AS BIGINT) AS epoch_cap,
          cap_tokens, is_capped,
          CASE WHEN is_capped = 1 THEN cap_tokens
            ELSE (budget - prefix_m) // (k - m) END AS alloc_tokens,
          (CASE WHEN is_capped = 1 THEN cap_tokens
            ELSE (budget - prefix_m) // (k - m) END)::DOUBLE
            / n_tokens::DOUBLE AS alloc_epochs
        FROM flagged, wl""")),

    // ---- q96: DSIR hashed-n-gram importance weighting (Xie et al.
    //      2023, "Data Selection for Language Models via Importance
    //      Resampling") — score every raw document by how target-like
    //      its hashed-bigram profile is. Bigrams hash into 256 buckets
    //      (first two md5 hex chars); a planted source predicate
    //      (md5 nibble < 6, same expression both engines) marks the
    //      "target domain"; Laplace-smoothed bucket distributions for
    //      target vs raw give a per-bucket likelihood ratio, and each
    //      doc's score is Σ count_b · ratio_b. Textbook DSIR sums LOG
    //      ratios and resamples ∝ exp(score); here the ratio is an
    //      exact scaled-integer ((ct+1)·Dr·2^14) div ((cr+1)·Dt) and
    //      the sum is pure bigint — ln() drifts by 1 ulp between libm
    //      and the JVM (q82's measurement), integers never do. `kept`
    //      = mean ratio above parity (score ≥ 2^14·n_bigrams).
    //      Scale: the raw text is touched ONCE by the compiled
    //      NgramMd5 pass; per-doc bucket counts are doc-keyed and
    //      map-side combinable; the distribution table is ≤256 rows —
    //      built with one combinable aggregate, broadcast back — so
    //      the only shuffles are doc-keyed, linear in corpus tokens.
    //      At 100-TB gram counts the 3-factor product nears int64 —
    //      upgrade l to DECIMAL(38,0) arithmetic, same plan shape. ----
    QueryDef(
      "q96_dsir_importance",
      (s, d) => {
        val hexpos = (c: Column) =>
          instr(lit("0123456789abcdef"), c) - 1
        val tgt = (hexpos(substring(
          md5(concat(lit("tgt:"), col("source"))), 1, 1)) < 6)
          .cast("long")
        // conditional input spread (no-op on a parallel scan): doc_id
        // partitioning clusters the (doc_id, is_target, b) bucket
        // count, the per-doc score rollup and the final join-back, and
        // the bigram-md5 kernel runs on every core
        val docs = graft.operators.InputSpread.byKey(
          t(s, d, "documents")
            .select(col("doc_id"), col("source"), col("text")),
          col("doc_id"))
          .withColumn("is_target", tgt)
        val db = docs
          .select(col("doc_id"), col("is_target"),
            explode(graft.functions.HashFunctions
              .ngramMd5(toks(col("text")), 2)).as("g"))
          .withColumn("b",
            hexpos(substring(col("g"), 1, 1)) * 16 +
              hexpos(substring(col("g"), 2, 1)))
          .groupBy("doc_id", "is_target", "b")
          .agg(count(lit(1)).as("c"))
        val bk = db.groupBy("b").agg(
          sum(when(col("is_target") === 1, col("c")).otherwise(0L))
            .as("ct"),
          sum(col("c")).as("cr"))
        val tot = bk.agg(
          (sum(col("ct")) + 256).as("dt"),
          (sum(col("cr")) + 256).as("dr"))
        val l = bk.crossJoin(broadcast(tot))
          .select(col("b"),
            expr("((ct + 1) * dr * 16384) div ((cr + 1) * dt)").as("l"))
        val sc = db
          .join(broadcast(l), Seq("b"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_bigrams"),
            sum(col("c") * col("l")).as("score"))
        docs.join(sc, Seq("doc_id"), "left")
          .select(
            col("doc_id"), col("source"), col("is_target"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("score"), lit(0L)).as("score"),
            when(coalesce(col("score"), lit(0L)) >=
              coalesce(col("n_bigrams"), lit(0L)) * 16384 &&
              coalesce(col("n_bigrams"), lit(0L)) > 0, 1L)
              .otherwise(0L).as("kept"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, source,
            CASE WHEN (strpos('0123456789abcdef',
                substr(md5('tgt:' || source), 1, 1)) - 1) < 6
              THEN 1 ELSE 0 END::BIGINT AS is_target,
            regexp_split_to_array(trim(text), '\s+') AS tk
          FROM documents),
        g AS (
          SELECT doc_id, is_target, unnest(list_transform(
            generate_series(1, greatest(len(tk) - 1, 0)),
            i -> md5(array_to_string(tk[i:i+1], ' ')))) AS g
          FROM d),
        db AS (
          SELECT doc_id, is_target,
            (strpos('0123456789abcdef', substr(g, 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(g, 2, 1)) - 1) AS b,
            CAST(count(*) AS BIGINT) AS c
          FROM g GROUP BY ALL),
        bk AS (
          SELECT b,
            CAST(SUM(CASE WHEN is_target = 1 THEN c ELSE 0 END)
              AS BIGINT) AS ct,
            CAST(SUM(c) AS BIGINT) AS cr
          FROM db GROUP BY b),
        tot AS (
          SELECT CAST(SUM(ct) AS BIGINT) + 256 AS dt,
                 CAST(SUM(cr) AS BIGINT) + 256 AS dr
          FROM bk),
        l AS (
          SELECT b, ((ct + 1) * dr * 16384) // ((cr + 1) * dt) AS l
          FROM bk, tot),
        sc AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
            CAST(SUM(c * l.l) AS BIGINT) AS score
          FROM db JOIN l USING (b) GROUP BY doc_id)
        SELECT d.doc_id, d.source, d.is_target,
          COALESCE(sc.n_bigrams, 0) AS n_bigrams,
          COALESCE(sc.score, 0) AS score,
          CASE WHEN COALESCE(sc.score, 0) >=
              COALESCE(sc.n_bigrams, 0) * 16384
              AND COALESCE(sc.n_bigrams, 0) > 0
            THEN 1 ELSE 0 END::BIGINT AS kept
        FROM d LEFT JOIN sc USING (doc_id)""")),

    // ---- q101: hashed-feature linear classifier INFERENCE (the
    //      fastText/CCNet quality-classifier serving shape, Joulin et
    //      al. 2017) — q96 builds importance weights from a corpus;
    //      this is the other half: applying a FIXED trained model to
    //      every document. Features are hashed bigrams (256 buckets,
    //      q96's hashing); the weight vector is a pure function of
    //      the bucket id (md5-nibble in [-8, 7] — a deterministic
    //      stand-in for trained weights, same expression both
    //      engines), so scoring needs NO weight table, NO join, NO
    //      aggregation across rows: score = Σ_grams w(bucket(gram))
    //      as a per-row HOF fold in pure bigint.
    //      Scale: this is the plan every model-based filter should
    //      compile to at 100 TB — a map-only scan (plan-asserted
    //      Exchange-free), embarrassingly parallel across 1000
    //      executors, no driver state; a real model swaps the weight
    //      expression for a broadcast array lookup, same shape. ----
    QueryDef(
      "q101_classifier_inference",
      (s, d) => {
        val hexpos = (c: Column) =>
          instr(lit("0123456789abcdef"), c) - 1
        val bucket = (gr: Column) =>
          hexpos(substring(gr, 1, 1)) * 16 + hexpos(substring(gr, 2, 1))
        val weight = (b: Column) =>
          (hexpos(substring(md5(concat(lit("w:"), b.cast("string"))), 1, 1))
            - 8).cast("long")
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            graft.functions.HashFunctions
              .ngramMd5(toks(col("text")), 2).as("g"))
          .select(col("doc_id"), col("source"),
            size(col("g")).cast("long").as("n_bigrams"),
            aggregate(col("g"), lit(0L),
              (acc, gr) => acc + weight(bucket(gr))).as("score"))
          .withColumn("pred",
            when(col("score") > 0, 1L).otherwise(0L))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, source,
            list_transform(generate_series(1,
                greatest(len(regexp_split_to_array(trim(text), '\s+'))
                  - 1, 0)),
              i -> md5(array_to_string(
                regexp_split_to_array(trim(text), '\s+')[i:i+1], ' ')))
              AS g
          FROM documents)
        SELECT doc_id, source,
          CAST(len(g) AS BIGINT) AS n_bigrams,
          CAST(COALESCE(list_sum(list_transform(g, gr ->
            (strpos('0123456789abcdef', substr(md5('w:' || CAST(
                (strpos('0123456789abcdef', substr(gr, 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(gr, 2, 1)) - 1)
              AS VARCHAR)), 1, 1)) - 1) - 8)), 0) AS BIGINT) AS score,
          CASE WHEN CAST(COALESCE(list_sum(list_transform(g, gr ->
            (strpos('0123456789abcdef', substr(md5('w:' || CAST(
                (strpos('0123456789abcdef', substr(gr, 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(gr, 2, 1)) - 1)
              AS VARCHAR)), 1, 1)) - 1) - 8)), 0) AS BIGINT) > 0
            THEN 1 ELSE 0 END::BIGINT AS pred
        FROM d""")),

    // ---- q102: unigram cross-entropy (surprisal) scoring — the
    //      LM-perplexity quality proxy (CCNet buckets corpora by LM
    //      perplexity; the unigram form needs no trained model): each
    //      token's surprisal ≈ log2(N/c_tok), a document's score is
    //      its mean token surprisal — rare-token-heavy docs score
    //      high, boilerplate scores low. Cross-engine exact because
    //      log2 never touches a float: floor(log2(x)) = length(bin(x))
    //      − 1 (binary-digit count, exact integers in both engines),
    //      so surprisal = fl2(N) − fl2(c) and every sum is bigint;
    //      the mean is ONE IEEE division and the keep flag compares
    //      integers (sum ≥ 6·n ⇔ mean ≥ 6 bits).
    //      Scale: per-doc token multiset collapses FIRST (doc-keyed,
    //      map-side combinable) so the token-keyed count and the
    //      count join ship (doc_id, token, small-int) distincts, not
    //      every occurrence; the one-row corpus total broadcasts.
    //      Same shuffle budget as q92's vocab/OOV — linear in corpus
    //      tokens, nothing all-pairs. ----
    QueryDef(
      "q102_surprisal_score",
      (s, d) => {
        val fl2 = (c: Column) => (length(bin(c)) - 1).cast("long")
        val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        val dt = t(s, d, "documents")
          .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("k"))
        val ct = dt.groupBy("tok").agg(sum("k").as("c"))
        val nTot = ct.agg(sum(col("c")).as("nn"))
        val sc = dt.join(ct, "tok")
          .crossJoin(broadcast(nTot))
          .groupBy("doc_id")
          .agg(sum("k").as("n_tokens"),
            sum(col("k") * (fl2(col("nn")) - fl2(col("c"))))
              .as("sum_surprisal"))
        docs.join(sc, "doc_id")
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("sum_surprisal"),
            (col("sum_surprisal").cast("double") /
              col("n_tokens").cast("double")).as("mean_surprisal"),
            when(col("sum_surprisal") >= col("n_tokens") * 6, 1L)
              .otherwise(0L).as("flagged"))
      },
      Some("""
        WITH tk AS (
          SELECT doc_id,
            unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        dt AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS k
          FROM tk GROUP BY ALL),
        ct AS (
          SELECT tok, CAST(SUM(k) AS BIGINT) AS c FROM dt GROUP BY tok),
        nt AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM ct),
        sc AS (
          SELECT doc_id,
            CAST(SUM(k) AS BIGINT) AS n_tokens,
            CAST(SUM(k * ((length(bin(nt.nn)) - 1)
              - (length(bin(ct.c)) - 1))) AS BIGINT) AS sum_surprisal
          FROM dt JOIN ct USING (tok), nt GROUP BY doc_id)
        SELECT d.doc_id, d.source, sc.n_tokens, sc.sum_surprisal,
          sc.sum_surprisal::DOUBLE / sc.n_tokens::DOUBLE
            AS mean_surprisal,
          CASE WHEN sc.sum_surprisal >= sc.n_tokens * 6
            THEN 1 ELSE 0 END::BIGINT AS flagged
        FROM documents d JOIN sc USING (doc_id)""")),

    // ---- q103: BPE merge-candidate counting — the first iteration of
    //      byte-pair-encoding tokenizer TRAINING (Sennrich et al.
    //      2016): count adjacent character pairs across the corpus,
    //      weighted by word frequency; the top pair is the first
    //      merge. The load-bearing scale property: pair counting runs
    //      over the VOCABULARY (distinct words × their corpus
    //      frequency), not over corpus positions — the word-count
    //      collapse is the only corpus-sized shuffle (map-side
    //      combinable, classic wordcount), after which the char-pair
    //      explode touches |V| rows regardless of corpus size. The
    //      final top-20 compiles to TakeOrderedAndProject (O(k) per
    //      partition); the rank window runs over 20 rows. Ties break
    //      by pair text so the limit is deterministic both engines. ----
    QueryDef(
      "q103_bpe_pairs",
      (s, d) => {
        val vocab = t(s, d, "documents")
          .select(explode(toks(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("f"))
        val pairs = vocab
          .filter(length(col("w")) >= 2)
          .select(col("f"), explode(
            transform(sequence(lit(1), length(col("w")) - 1),
              i => col("w").substr(i, lit(2)))).as("pair"))
          .groupBy("pair").agg(sum("f").as("cnt"))
        val top = pairs.orderBy(col("cnt").desc, col("pair")).limit(20)
        // rank the ≤20 post-limit rows without a window: one bounded
        // collect_list row, sorted (struct(-cnt, pair) asc == cnt desc,
        // pair asc), posexplode position = rank. No unpartitioned
        // WindowExec anywhere in the plan.
        top
          .agg(sort_array(collect_list(
            struct((-col("cnt")).as("nc"), col("pair")))).as("xs"))
          .select(posexplode(col("xs")))
          .select((col("pos") + 1).cast("long").as("rank"),
            col("col.pair").as("pair"), (-col("col.nc")).as("cnt"))
      },
      Some("""
        WITH wd AS (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents),
        v AS (
          SELECT w, CAST(count(*) AS BIGINT) AS f FROM wd GROUP BY w),
        p AS (
          SELECT unnest(list_transform(
              generate_series(1, length(w) - 1),
              i -> substr(w, i, 2))) AS pair, f
          FROM v WHERE length(w) >= 2),
        pc AS (
          SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt
          FROM p GROUP BY pair)
        SELECT CAST(rk AS BIGINT) AS rank, pair, cnt FROM (
          SELECT pair, cnt,
            row_number() OVER (ORDER BY cnt DESC, pair) AS rk
          FROM pc) WHERE rk <= 20""")),

    // ---- q104: k-anonymity suppression — the privacy-side curation
    //      gate: a document whose quasi-identifier combination
    //      (source, lang, 256-char length bucket) is shared by fewer
    //      than k=5 documents is suppressed (rare metadata combos can
    //      re-identify authors even after q74's direct-PII redaction).
    //      One QI-keyed window count is the only shuffle — keyed by
    //      the full composite so parallelism is the QI-combination
    //      count, corpus-wide at any scale; the keep flag is a pure
    //      integer comparison. Complements q74: direct identifiers
    //      get redacted, rare indirect identifiers get suppressed. ----
    QueryDef(
      "q104_k_anonymity",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source", "lang", "len_bucket")
        t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            expr("n_chars div 256").as("len_bucket"))
          .withColumn("grp_n", count(lit(1)).over(w))
          .select(col("doc_id"), col("source"), col("lang"),
            col("len_bucket"), col("grp_n"),
            when(col("grp_n") >= 5, 1L).otherwise(0L).as("kept"))
      },
      Some("""
        SELECT doc_id, source, lang,
          n_chars // 256 AS len_bucket,
          CAST(count(*) OVER (
            PARTITION BY source, lang, n_chars // 256) AS BIGINT)
            AS grp_n,
          CASE WHEN count(*) OVER (
              PARTITION BY source, lang, n_chars // 256) >= 5
            THEN 1 ELSE 0 END::BIGINT AS kept
        FROM documents""")),

    // ---- q106: vocabulary coverage curve — the tokenizer-sizing
    //      question q92's top-K build leads to: what fraction of all
    //      corpus token OCCURRENCES does a vocabulary of size k cover,
    //      for k in {16, 64, 256, 1024}? (The OOV mass a byte-level
    //      fallback must absorb is 1 − coverage.) The wordcount is
    //      the one corpus-sized shuffle (map-side combinable); the
    //      candidate cut is TakeOrdered (O(k) per partition — never a
    //      global sort), so the rank window and the 4-way coverage
    //      rollup run over ≤1024 rows regardless of corpus size; the
    //      corpus totals ride a one-row broadcast. Ties break
    //      (count DESC, token ASC) in both engines. ----
    QueryDef(
      "q106_vocab_coverage",
      (s, d) => {
        val wc = t(s, d, "documents")
          .select(explode(toks(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val tot = wc.agg(sum("c").as("total_tokens"),
          count(lit(1)).as("vocab_size"))
        // rank the ≤1024 post-limit rows without a window: one bounded
        // collect_list row sorted (struct(-c, tok) asc == c desc, tok
        // asc), posexplode position = rank — no unpartitioned WindowExec
        val top = wc.orderBy(col("c").desc, col("tok")).limit(1024)
          .agg(sort_array(collect_list(
            struct((-col("c")).as("nc"), col("tok")))).as("xs"))
          .select(posexplode(col("xs")))
          .select((col("pos") + 1).cast("long").as("rk"),
            col("col.tok").as("tok"), (-col("col.nc")).as("c"))
        top.crossJoin(broadcast(tot))
          .withColumn("k", explode(array(
            Seq(16L, 64L, 256L, 1024L).map(lit): _*)))
          .groupBy("k", "total_tokens", "vocab_size")
          .agg(sum(when(col("rk") <= col("k"), col("c"))
            .otherwise(0L)).as("covered"))
          .select(col("k"), col("covered"), col("total_tokens"),
            col("vocab_size"),
            (col("covered").cast("double") /
              col("total_tokens").cast("double")).as("coverage"))
      },
      Some("""
        WITH tk AS (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        wc AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY tok),
        tot AS (
          SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
                 CAST(count(*) AS BIGINT) AS vocab_size
          FROM wc),
        top AS (
          SELECT c, rk FROM (
            SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rk
            FROM wc) WHERE rk <= 1024),
        ks AS (SELECT unnest([16, 64, 256, 1024]) AS k)
        SELECT CAST(ks.k AS BIGINT) AS k,
          CAST(SUM(CASE WHEN top.rk <= ks.k THEN top.c ELSE 0 END)
            AS BIGINT) AS covered,
          tot.total_tokens, tot.vocab_size,
          CAST(SUM(CASE WHEN top.rk <= ks.k THEN top.c ELSE 0 END)
            AS BIGINT)::DOUBLE / tot.total_tokens::DOUBLE AS coverage
        FROM ks, top, tot
        GROUP BY ks.k, tot.total_tokens, tot.vocab_size""")),

    // ---- q108: the END-TO-END corpus→training-shards pipeline as one
    //      oracle query — q88 certified gates→redact→dedup; this adds
    //      the remaining batch-prep stages so the WHOLE composition
    //      (quality gates → PII redaction → fingerprint dedup → q75's
    //      dyadic budget sampling → q81's sequence packing) carries
    //      value-for-value gate evidence, not per-operator evidence
    //      stitched by hand. Output: per-(source, shard) shard
    //      manifest — doc/bin counts, token mass, importance-weighted
    //      token mass (weight constant per source ⇒ ONE division and
    //      ONE multiply, never a float sum), min/max surviving
    //      fingerprints.
    //      Scale: gates/redaction/sampling are per-row; text never
    //      passes the first projection; the two keyed exchanges are
    //      the fp dedup window and the (source, shard) packing window,
    //      and the final manifest groupBy reuses the packing
    //      partitioning (exchange-free — plan-asserted). ----
    QueryDef(
      "q108_corpus_to_shards",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // conditional input spread (no-op on a parallel scan): the
        // curation kernel (tokenize + quality gates + PII redaction +
        // fingerprint) ran on the single scan task
        val curated = graft.streaming.CurationStream.curate(
          graft.operators.InputSpread.byKey(
            t(s, d, "documents")
              .select(col("doc_id"), col("text"), col("source")),
            col("doc_id")))
        // skinny BEFORE any exchange: (id, source, count, 32-hex fp)
        val slim = curated
          .select(col("doc_id"), col("source"), col("n_tokens"), col("fp"))
        val wfp = Window.partitionBy("fp").orderBy("doc_id")
        val deduped = slim.withColumn("rn", row_number().over(wfp))
          .filter(col("rn") === 1).drop("rn")
        // q75's reproducible dyadic keep-rule (thr/256 by source family)
        val hex = lit("0123456789abcdef")
        val h = md5(concat(lit("mix:"), col("doc_id").cast("string")))
        val b = (instr(hex, substring(h, 1, 1)) - 1) * 16 +
          (instr(hex, substring(h, 2, 1)) - 1)
        val srcIdx = substring(col("source"), 4, 10).cast("int") % 4
        val thr = when(srcIdx === 0, 256).when(srcIdx === 1, 128)
          .when(srcIdx === 2, 192).otherwise(64)
        val sampled = deduped.withColumn("thr", thr).withColumn("b", b)
          .filter(col("b") < col("thr")).drop("b")
        // q81's cumulative next-fit packing within (source, shard)
        val wp = Window.partitionBy("source", "shard")
          .orderBy(col("h2"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val packed = sampled
          .withColumn("h2", md5(col("doc_id").cast("string")))
          .withColumn("shard", substring(col("h2"), 1, 1))
          .withColumn("cum", sum(col("n_tokens")).over(wp))
          .withColumn("bin", expr("(cum - n_tokens) DIV 2048"))
        packed.groupBy("source", "shard")
          .agg(count(lit(1)).as("n_docs"),
            (max(col("bin")) + 1).as("n_bins"),
            sum(col("n_tokens")).as("sum_tokens"),
            max(col("thr")).as("thr"),
            min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
          .select(col("source"), col("shard"), col("n_docs"),
            col("n_bins"), col("sum_tokens"),
            (col("sum_tokens").cast("double") *
              (lit(256.0) / col("thr").cast("double")))
              .as("weighted_tokens"),
            col("min_fp"), col("max_fp"))
      },
      Some("""
        WITH cur AS (
          SELECT doc_id, source,
            len(regexp_split_to_array(trim(text), '\s+'))::BIGINT
              AS n_tokens,
            CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              AS DOUBLE) / len(text) AS alpha_ratio,
            regexp_replace(regexp_replace(regexp_replace(text,
              '[a-z0-9.]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g'),
              '\+[0-9]{2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
              '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
              '[IP]', 'g') AS rtext
          FROM documents),
        gated AS (
          SELECT doc_id, source, n_tokens,
            md5(regexp_replace(lower(trim(rtext)), '\s+', ' ', 'g')) AS fp
          FROM cur
          WHERE n_tokens >= 5 AND alpha_ratio >= 0.5),
        ded AS (
          SELECT doc_id, source, n_tokens, fp FROM (
            SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
              AS rn
            FROM gated) WHERE rn = 1),
        samp AS (
          SELECT doc_id, source, n_tokens, fp,
            CASE CAST(substr(source, 4) AS INT) % 4
              WHEN 0 THEN 256 WHEN 1 THEN 128 WHEN 2 THEN 192
              ELSE 64 END AS thr
          FROM ded
          WHERE (strpos('0123456789abcdef',
                substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
              * 16
              + (strpos('0123456789abcdef',
                substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
            < CASE CAST(substr(source, 4) AS INT) % 4
                WHEN 0 THEN 256 WHEN 1 THEN 128 WHEN 2 THEN 192
                ELSE 64 END),
        packed AS (
          SELECT source, thr, fp, doc_id, n_tokens,
            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
            SUM(n_tokens) OVER (
              PARTITION BY source,
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM samp)
        SELECT source, shard,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(MAX((cum - n_tokens) // 2048) + 1 AS BIGINT) AS n_bins,
          CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
          CAST(SUM(n_tokens) AS BIGINT)::DOUBLE
            * (256.0 / CAST(MAX(thr) AS DOUBLE)) AS weighted_tokens,
          MIN(fp) AS min_fp, MAX(fp) AS max_fp
        FROM packed GROUP BY source, shard""")),

    // ---- q109: per-source quality tiers — curriculum/mixing
    //      bucketing: rank every document within its source by a
    //      deterministic quality score and cut into quartiles (tier 1
    //      = cleanest 25%); downstream mixers sample tier-weighted
    //      (CCNet's perplexity buckets, quality-curriculum training).
    //      The score is integer-exact: alpha-chars·1000 div len (trunc
    //      div both engines); ntile(4) is SQL-standard floor
    //      distribution over a total order (score DESC, doc_id) —
    //      identical in both engines. ONE source-keyed window is the
    //      only exchange; parallelism = source count × nothing else
    //      (a hot source at 100 TB should pre-aggregate score
    //      HISTOGRAMS per source and cut tiers from quantiles instead
    //      — q41's sketch path; this exact form is the per-source
    //      ranked spine). ----
    QueryDef(
      "q109_quality_tiers",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("score").desc, col("doc_id"))
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            (length(regexp_replace(col("text"), "[^A-Za-z]", ""))
              .cast("long") * 1000).as("alpha_k"),
            length(col("text")).cast("long").as("len"))
          .filter(col("len") > 0)
          .select(col("doc_id"), col("source"),
            expr("alpha_k div len").as("score"))
          .withColumn("tier", ntile(4).over(w).cast("long"))
      },
      Some("""
        WITH sc AS (
          SELECT doc_id, source,
            (CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              AS BIGINT) * 1000) // CAST(len(text) AS BIGINT) AS score
          FROM documents WHERE len(text) > 0)
        SELECT doc_id, source, score,
          CAST(ntile(4) OVER (PARTITION BY source
            ORDER BY score DESC, doc_id) AS BIGINT) AS tier
        FROM sc""")),

    // ---- q110: quality-aware dedup — keep the BEST duplicate, not
    //      the smallest id. Production dedup keeps the cleanest
    //      cluster member (Lee et al. keep-longest; CCNet
    //      keep-head-bucket); min-id keeps whichever crawled first.
    //      Planted twins make the policy load-bearing: every 10th doc
    //      is dirtied with trailing whitespace and re-crawled clean
    //      (+TwinIdOffset) — the SAME canonical fingerprint, but the
    //      re-crawl's raw form is shorter so its density score is
    //      higher — keep-best selects the RE-CRAWL while min-id keeps
    //      the dirty original (both policies computed; the manifest
    //      counts where they disagree). One fp-keyed window is the
    //      only exchange; text never crosses it (score + 32-hex fp
    //      computed in the map projection). ----
    QueryDef(
      "q110_dedup_keep_best",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            concat(col("text"),
              when(col("doc_id") % 10 === 0, lit("   "))
                .otherwise(lit(""))).as("text"))
        val twins = t(s, d, "documents")
          .filter(col("doc_id") % 10 === 0)
          .select(
            (col("doc_id") + lit(Similarity.TwinIdOffset)).as("doc_id"),
            col("source"), col("text"))
        val slim = base.unionByName(twins)
          .select(col("doc_id"), col("source"),
            md5(graft.functions.TextFunctions.normText(col("text")))
              .as("fp"),
            (length(regexp_replace(col("text"), "[^A-Za-z]", ""))
              .cast("long") * 1000000L).as("alpha_k"),
            length(col("text")).cast("long").as("len"))
          .filter(col("len") > 0)
          .select(col("doc_id"), col("source"), col("fp"),
            expr("alpha_k div len").as("score"))
        val wBest = Window.partitionBy("fp")
          .orderBy(col("score").desc, col("doc_id"))
        val wMin = Window.partitionBy("fp").orderBy(col("doc_id"))
        slim
          .withColumn("rb", row_number().over(wBest))
          .withColumn("rm", row_number().over(wMin))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rb") === 1, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("rb") === 1 &&
              col("doc_id") >= lit(Similarity.TwinIdOffset), 1L)
              .otherwise(0L)).as("n_kept_recrawl"),
            sum(when(col("rb") === 1 && col("rm") =!= 1, 1L)
              .otherwise(0L)).as("n_policy_disagree"),
            sum(when(col("rb") === 1, col("score")).otherwise(0L))
              .as("sum_kept_score"))
      },
      Some("""
        WITH alldocs AS (
          SELECT doc_id, source,
            text || CASE WHEN doc_id % 10 = 0 THEN '   ' ELSE '' END
              AS text
          FROM documents
          UNION ALL
          SELECT doc_id + """ + Similarity.TwinIdOffset + """, source,
            text
          FROM documents WHERE doc_id % 10 = 0),
        slim AS (
          SELECT doc_id, source,
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
            (CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              AS BIGINT) * 1000000) // CAST(len(text) AS BIGINT) AS score
          FROM alldocs WHERE len(text) > 0),
        marked AS (
          SELECT *,
            row_number() OVER (PARTITION BY fp
              ORDER BY score DESC, doc_id) AS rb,
            row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rm
          FROM slim)
        SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN rb = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_kept,
          CAST(SUM(CASE WHEN rb = 1 AND doc_id >= """ +
        Similarity.TwinIdOffset + """ THEN 1 ELSE 0 END) AS BIGINT)
            AS n_kept_recrawl,
          CAST(SUM(CASE WHEN rb = 1 AND rm <> 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_policy_disagree,
          CAST(SUM(CASE WHEN rb = 1 THEN score ELSE 0 END) AS BIGINT)
            AS sum_kept_score
        FROM marked GROUP BY source""")),

    // ---- q123: URL canonicalization + URL-level dedup — the FIRST
    //      dedup pass of every crawl pipeline (CCNet/C4 dedup by
    //      canonical URL before touching content): lowercase
    //      scheme/host, strip www. and the default :443 port, drop
    //      tracking params (utm_*), sort surviving query params so
    //      param order never splits a group. URLs are planted
    //      deterministically from doc_id (the corpus has no url
    //      column) with mixed case, ports and shuffled params so every
    //      canonicalization rule is load-bearing. Pure per-row regexp
    //      + array ops (filter/sort/join — identical HOFs both
    //      engines), then ONE canonical-key aggregate: map-side
    //      combinable, the same budget as q20 exact dedup. ----
    QueryDef(
      "q123_url_canonicalize",
      (s, d) => {
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://WWW."))
            .otherwise(lit("https://")),
          lit("Host"), (col("doc_id") % 7).cast("string"),
          lit(".Example.COM"),
          when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
          lit("/path/"), (col("doc_id") % 50).cast("string"),
          when(col("doc_id") % 2 === 0,
            concat(lit("?utm_source=feed&id="),
              (col("doc_id") % 25).cast("string"),
              lit("&utm_campaign=x&ref=a")))
            .otherwise(concat(lit("?ref=a&id="),
              (col("doc_id") % 25).cast("string"))))
        val host = lower(regexp_extract(col("url"),
          "^[Hh][Tt][Tt][Pp][Ss]?://([^/?#]+)", 1))
        val cleanHost = regexp_replace(
          regexp_replace(host, "^www\\.", ""), ":443$", "")
        val path = regexp_extract(col("url"),
          "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
        val query = regexp_extract(col("url"), "\\?([^#]*)", 1)
        val keptParams = array_join(
          array_sort(filter(split(query, "&"),
            p => !p.startsWith("utm_") && p =!= "")), "&")
        t(s, d, "documents")
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"),
            concat(cleanHost, path,
              when(keptParams =!= "", concat(lit("?"), keptParams))
                .otherwise(lit(""))).as("canonical"))
          .groupBy("canonical")
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("keep_doc"))
      },
      Some("""
        WITH u AS (
          SELECT doc_id,
            CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
              ELSE 'https://' END
            || 'Host' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
            || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
            || '/path/' || CAST(doc_id % 50 AS VARCHAR)
            || CASE WHEN doc_id % 2 = 0
              THEN '?utm_source=feed&id=' || CAST(doc_id % 25 AS VARCHAR)
                || '&utm_campaign=x&ref=a'
              ELSE '?ref=a&id=' || CAST(doc_id % 25 AS VARCHAR) END
            AS url
          FROM documents),
        parts AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(
              lower(regexp_extract(url, '^[Hh][Tt][Tt][Pp][Ss]?://([^/?#]+)', 1)),
              '^www\.', ''), ':443$', '') AS clean_host,
            regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
              AS path,
            array_to_string(list_sort(list_filter(
              string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
              p -> NOT starts_with(p, 'utm_') AND p <> '')), '&')
              AS kept
          FROM u)
        SELECT clean_host || path ||
            CASE WHEN kept <> '' THEN '?' || kept ELSE '' END
            AS canonical,
          COUNT(*) AS n_docs,
          CAST(MIN(doc_id) AS BIGINT) AS keep_doc
        FROM parts GROUP BY 1""")),

    // ---- q124: vocabulary-growth audit (Heaps' law) + Zipf head/tail
    //      skew per source — the corpus-statistics fingerprint that
    //      flags machine-generated or template-heavy sources (natural
    //      text: vocab ≈ K·N^β with β ≈ 0.5 and a Zipf head; spam:
    //      tiny vocab, flat tail). All integer-exact: coverage in ppm
    //      (trunc div), the Zipf surrogate is the q102 integer log2
    //      gap between the top term count and the median term count
    //      (percentile_disc picks an actual count). Scale: one
    //      (source, token) wordcount collapse — map-side combinable,
    //      the only corpus-sized shuffle — then a tiny per-source
    //      rollup. ----
    QueryDef(
      "q124_heaps_zipf",
      (s, d) => {
        val fl2 = (c: Column) => (length(bin(c)) - 1).cast("long")
        val tc = t(s, d, "documents")
          .select(col("source"), explode(toks(col("text"))).as("tok"))
          .groupBy("source", "tok")
          .agg(count(lit(1)).as("c"))
        tc.groupBy("source")
          .agg(sum("c").as("n_tokens"),
            count(lit(1)).as("vocab"),
            max("c").as("top_count"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
              .cast("long").as("med_count"))
          .select(col("source"), col("n_tokens"), col("vocab"),
            expr("vocab * 1000000 div n_tokens").as("vocab_ppm"),
            col("top_count"), col("med_count"),
            (fl2(col("top_count")) - fl2(col("med_count")))
              .as("zipf_bits"))
      },
      Some("""
        WITH tc AS (
          SELECT source,
            unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        cc AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM tc GROUP BY 1, 2)
        SELECT source,
          CAST(SUM(c) AS BIGINT) AS n_tokens,
          COUNT(*) AS vocab,
          (COUNT(*) * 1000000) // CAST(SUM(c) AS BIGINT) AS vocab_ppm,
          CAST(MAX(c) AS BIGINT) AS top_count,
          CAST(quantile_disc(c, 0.5) AS BIGINT) AS med_count,
          CAST((length(bin(MAX(c))) - 1)
            - (length(bin(quantile_disc(c, 0.5))) - 1) AS BIGINT)
            AS zipf_bits
        FROM cc GROUP BY source""")),

    // ---- q143: length-grouped batch packing — the dynamic-batching
    //      audit behind every padded-batch training loop (and the
    //      policy knob q81's sequence packing complements): batch size
    //      B=32, batches padded to their max sequence length. Grouping
    //      docs into 64-token length buckets before batching (the
    //      torchtext/fairseq bucket-batching policy) is compared
    //      against naive arrival-order (doc_id FIFO) batching, per
    //      source: padded-token overhead of each policy and the
    //      resulting padding efficiency. All masses are exact bigints;
    //      the two efficiencies are one IEEE division each.
    //      Scale: both policies are one window + one combinable agg
    //      keyed by (source[, bucket]) — batch ids derive from a
    //      row_number inside natural partitions, never a global sort;
    //      at 100 TB the bucket key fans each source's window across
    //      executors exactly like q81's composite shard key. ----
    QueryDef(
      "q143_batch_packing",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(graft.functions.TextFunctions.tokens(col("text")))
              .cast("long").as("n_tok"))
        // per-source rollup of one batching policy: batch rows on the
        // given keys + a batch counter from an in-partition row_number
        val policy = (withBatch: DataFrame, keys: Seq[String]) =>
          withBatch.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("cnt"), max(col("n_tok")).as("mx"),
              sum(col("n_tok")).as("sm"))
            .groupBy("source")
            .agg(sum(col("cnt")).as("n_docs"),
              sum(col("sm")).as("sum_tokens"),
              sum(col("cnt") * col("mx") - col("sm")).as("padded"))
        val wB = Window.partitionBy("source", "lb").orderBy("doc_id")
        val bucketed = policy(
          docs.withColumn("lb", expr("n_tok div 64"))
            .withColumn("b", ((row_number().over(wB) - 1) / 32)
              .cast("long")),
          Seq("source", "lb", "b"))
        val wF = Window.partitionBy("source").orderBy("doc_id")
        val fifo = policy(
          docs.withColumn("b", ((row_number().over(wF) - 1) / 32)
            .cast("long")),
          Seq("source", "b"))
        bucketed
          .select(col("source"), col("n_docs"), col("sum_tokens"),
            col("padded").as("padded_bucketed"))
          .join(fifo.select(col("source"), col("padded").as("padded_fifo")),
            Seq("source"))
          .select(col("source"), col("n_docs"), col("sum_tokens"),
            col("padded_fifo"), col("padded_bucketed"),
            (col("sum_tokens").cast("double") /
              (col("sum_tokens") + col("padded_fifo")).cast("double"))
              .as("eff_fifo"),
            (col("sum_tokens").cast("double") /
              (col("sum_tokens") + col("padded_bucketed")).cast("double"))
              .as("eff_bucketed"))
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, source,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
              AS n_tok
          FROM documents),
        bk AS (
          SELECT source, n_tok, n_tok // 64 AS lb,
            (row_number() OVER (PARTITION BY source, n_tok // 64
               ORDER BY doc_id) - 1) // 32 AS b
          FROM docs),
        bb AS (
          SELECT source, lb, b, COUNT(*) AS cnt, MAX(n_tok) AS mx,
            CAST(SUM(n_tok) AS BIGINT) AS sm
          FROM bk GROUP BY 1, 2, 3),
        bs AS (
          SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs,
            CAST(SUM(sm) AS BIGINT) AS sum_tokens,
            CAST(SUM(cnt * mx - sm) AS BIGINT) AS padded_bucketed
          FROM bb GROUP BY source),
        fk AS (
          SELECT source, n_tok,
            (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
              // 32 AS b
          FROM docs),
        fb AS (
          SELECT source, b, COUNT(*) AS cnt, MAX(n_tok) AS mx,
            CAST(SUM(n_tok) AS BIGINT) AS sm
          FROM fk GROUP BY 1, 2),
        fs AS (
          SELECT source, CAST(SUM(cnt * mx - sm) AS BIGINT) AS padded_fifo
          FROM fb GROUP BY source)
        SELECT source, n_docs, sum_tokens, padded_fifo, padded_bucketed,
          CAST(sum_tokens AS DOUBLE)
            / CAST(sum_tokens + padded_fifo AS DOUBLE) AS eff_fifo,
          CAST(sum_tokens AS DOUBLE)
            / CAST(sum_tokens + padded_bucketed AS DOUBLE) AS eff_bucketed
        FROM bs JOIN fs USING (source)""")),

    // ---- q199: group-median imputation — the standard ML-preprocessing
    //      fill: rows with a (deterministically synthesized) missing
    //      metric take their group's median of the OBSERVED values.
    //      percentile_disc picks an element, so the fill is integral and
    //      `.cast("long")` keeps both engines int64 (the q153 lesson —
    //      Spark types the aggregate DOUBLE even over integer input).
    //      One combinable per-type aggregate (5 rows) broadcasts back
    //      over the fact scan: zero fact-side shuffles at any scale. ----
    QueryDef(
      "q199_impute_median",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .withColumn("missing", col("event_id") % 7 === 0)
        val med = ev.filter(!col("missing"))
          .groupBy("event_type")
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
            .cast("long").as("med_cents"))
        ev.join(broadcast(med), Seq("event_type"))
          .select(col("event_id"), col("event_type"),
            when(col("missing"), col("med_cents")).otherwise(col("cents"))
              .as("filled_cents"),
            col("missing").cast("int").cast("long").as("was_imputed"))
      },
      Some("""
        WITH ev AS (
          SELECT event_id, event_type,
            CAST(round("value" * 100) AS BIGINT) AS cents,
            event_id % 7 = 0 AS missing
          FROM events),
        med AS (
          SELECT event_type,
            quantile_disc(cents, 0.5) AS med_cents
          FROM ev WHERE NOT missing GROUP BY 1)
        SELECT event_id, ev.event_type,
          CASE WHEN missing THEN med_cents ELSE cents END
            AS filled_cents,
          CAST(CASE WHEN missing THEN 1 ELSE 0 END AS BIGINT)
            AS was_imputed
        FROM ev JOIN med ON ev.event_type = med.event_type""")),

    // ---- q208: golden-record survivorship — the MDM merge: one
    //      profile row per entity where each attribute independently
    //      takes its LATEST NON-NULL observation (deterministically
    //      synthesized nulls; ties fully broken by event_id), alongside
    //      lifetime aggregates. `first(_, ignoreNulls) over the
    //      DESC-ordered full-partition frame` picks per-column
    //      survivors in the same pass as the aggregates — one
    //      entity-keyed exchange total, vs the per-column idxmax joins
    //      a naive survivorship pays. ----
    QueryDef(
      "q208_golden_record",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_id") % 5 =!= 0,
              round(col("value") * 100).cast("long")).as("cents"),
            when(col("event_id") % 3 =!= 0, col("props")).as("props"))
          .withColumn("last_cents",
            first(col("cents"), ignoreNulls = true).over(w))
          .withColumn("last_props",
            first(col("props"), ignoreNulls = true).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("first_ts"),
            max(col("ts")).as("last_ts"),
            max(col("last_cents")).as("last_cents"),
            max(col("last_props")).as("last_props"),
            sum(col("cents").isNull.cast("long")).as("n_missing_cents"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts, event_id,
            CASE WHEN event_id % 5 <> 0
              THEN CAST(round("value" * 100) AS BIGINT) END AS cents,
            CASE WHEN event_id % 3 <> 0 THEN props END AS props
          FROM events),
        surv AS (
          SELECT user_id, ts, event_id, cents, props,
            first_value(cents IGNORE NULLS) OVER w AS last_cents,
            first_value(props IGNORE NULLS) OVER w AS last_props
          FROM ev
          WINDOW w AS (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        SELECT user_id, COUNT(*) AS n_events,
          MIN(ts) AS first_ts, MAX(ts) AS last_ts,
          MAX(last_cents) AS last_cents, MAX(last_props) AS last_props,
          CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_missing_cents
        FROM surv GROUP BY user_id""")),

    // ---- q243: source datasheet — the one-stop "datasheet for
    //      datasets" card per source: volume, length distribution
    //      (exact sums + disc median), language spread, and the
    //      exact-duplicate footprint (docs whose normalized-text
    //      fingerprint repeats within the source). Two passes: one
    //      fp-keyed dedup count, one source rollup — everything
    //      integer or element-picked, so the card is reproducible
    //      byte-for-byte anywhere. ----
    QueryDef(
      "q243_source_datasheet",
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("source"), col("lang"), col("doc_id"),
            length(col("text")).cast("long").as("len"),
            md5(graft.functions.TextFunctions.normText(col("text")))
              .as("fp"))
        val dupDocs = docs.groupBy("source", "fp")
          .agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum(when(col("c") > 1, col("c")).otherwise(0L))
            .as("n_dup_docs"))
        docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("len")).as("total_chars"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY len)")
              .cast("long").as("p50_len"),
            countDistinct(col("lang")).as("n_langs"))
          .join(dupDocs, Seq("source"))
          .withColumn("dup_ppm",
            expr("n_dup_docs * 1000000 div n_docs"))
      },
      Some("""
        WITH docs AS (
          SELECT source, lang, doc_id,
            CAST(length(text) AS BIGINT) AS len,
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
              AS fp
          FROM documents),
        dd AS (
          SELECT source,
            CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
              AS n_dup_docs
          FROM (SELECT source, fp, COUNT(*) AS c FROM docs
                GROUP BY 1, 2)
          GROUP BY source),
        card AS (
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(len) AS BIGINT) AS total_chars,
            quantile_disc(len, 0.5) AS p50_len,
            CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
          FROM docs GROUP BY 1)
        SELECT card.source, n_docs, total_chars, p50_len, n_langs,
          n_dup_docs, n_dup_docs * 1000000 // n_docs AS dup_ppm
        FROM card JOIN dd ON card.source = dd.source""")),

    // ---- q281: cleaning-filter funnel — the ablation table every
    //      corpus-cleaning pipeline publishes: filters applied
    //      CUMULATIVELY (length → min words → type-token ratio →
    //      max words), with survivors and surviving tokens after
    //      each prefix. q132 audits rules independently; the funnel
    //      shows the marginal cost of each stage in pipeline ORDER —
    //      what you consult before reordering or dropping a filter.
    //      Ratio thresholds stay exact via integer cross-
    //      multiplication (dw·100 ≥ w·40, not dw/w ≥ 0.4).
    //      One scan, all four prefixes as conditional aggregates;
    //      the 4-row unpivot is a constant-size stack. ----
    QueryDef(
      "q281_filter_funnel",
      (s, d) => {
        val flags = t(s, d, "documents")
          .select(col("n_chars"),
            size(toks(col("text"))).cast("long").as("w"),
            size(array_distinct(toks(col("text")))).cast("long")
              .as("dw"))
          .withColumn("f1",
            col("n_chars") >= 200 && col("n_chars") <= 20000)
          .withColumn("f2", col("w") >= 40)
          // type-token ratio >= 0.40 — the repetition cut, exact via
          // cross-multiplication (never a float division)
          .withColumn("f3", col("dw") * 100 >= col("w") * 40)
          .withColumn("f4", col("w") <= 70)
        val agg = flags.agg(
          count(lit(1)).as("n0"),
          sum(when(col("f1"), col("w")).otherwise(0L)).as("t1"),
          sum(when(col("f1"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("f1") && col("f2"), col("w")).otherwise(0L))
            .as("t2"),
          sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("f1") && col("f2") && col("f3"), col("w"))
            .otherwise(0L)).as("t3"),
          sum(when(col("f1") && col("f2") && col("f3"), 1L)
            .otherwise(0L)).as("n3"),
          sum(when(col("f1") && col("f2") && col("f3") && col("f4"),
            col("w")).otherwise(0L)).as("t4"),
          sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L)
            .otherwise(0L)).as("n4"))
        agg.selectExpr("n0", """stack(4,
            1L, n1, t1, 2L, n2, t2, 3L, n3, t3, 4L, n4, t4)
          AS (stage, n_surv, tokens_surv)""")
          .withColumn("kept_ppm", expr("n_surv * 1000000 div n0"))
          .select("stage", "n_surv", "tokens_surv", "kept_ppm")
      },
      Some("""
        WITH flags AS (
          SELECT n_chars,
            CAST(len(regexp_split_to_array(trim(text), '\s+'))
              AS BIGINT) AS w,
            CAST(len(list_distinct(
              regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
              AS dw
          FROM documents),
        fl AS (
          SELECT w,
            (n_chars >= 200 AND n_chars <= 20000) AS f1,
            (w >= 40) AS f2,
            (dw * 100 >= w * 40) AS f3,
            (w <= 70) AS f4
          FROM flags),
        agg AS (
          SELECT COUNT(*) AS n0,
            CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN f1 THEN w ELSE 0 END) AS BIGINT) AS t1,
            CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT)
              AS n2,
            CAST(SUM(CASE WHEN f1 AND f2 THEN w ELSE 0 END) AS BIGINT)
              AS t2,
            CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END)
              AS BIGINT) AS n3,
            CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN w ELSE 0 END)
              AS BIGINT) AS t3,
            CAST(SUM(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0
              END) AS BIGINT) AS n4,
            CAST(SUM(CASE WHEN f1 AND f2 AND f3 AND f4 THEN w ELSE 0
              END) AS BIGINT) AS t4
          FROM fl)
        SELECT s.stage, s.n_surv, s.tokens_surv,
          s.n_surv * 1000000 // agg.n0 AS kept_ppm
        FROM agg, LATERAL (VALUES
          (CAST(1 AS BIGINT), n1, t1), (2, n2, t2),
          (3, n3, t3), (4, n4, t4)) s(stage, n_surv, tokens_surv)""")),

    // ---- q295: l-diversity audit — q104's k-anonymity gate counts
    //      GROUP SIZE, but a size-5 group whose members all share one
    //      sensitive value still leaks it (the homogeneity attack —
    //      Machanavajjhala et al., ICDE'06). Per quasi-identifier
    //      group (event_type × day-of-week — pure epoch-µs integer
    //      arithmetic), count members AND distinct sensitive values
    //      (spend band = floor(value/100) as the stand-in sensitive
    //      attribute); a group passes only with >= l = 3 distinct
    //      values. One QI-keyed aggregate with a combinable
    //      count-distinct — grouped-key parallelism at any scale;
    //      the pass flag is a pure integer comparison. ----
    QueryDef(
      "q295_l_diversity",
      (s, d) =>
        t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"),
            expr("((ts div 86400000000) + 4) % 7").as("dow"),
            expr("CAST(floor(value / 100) AS BIGINT)").as("spend_band"))
          .groupBy("event_type", "dow")
          .agg(count(lit(1)).as("grp_n"),
            countDistinct(col("spend_band")).as("l_distinct"))
          .withColumn("diverse",
            when(col("l_distinct") >= 3, 1L).otherwise(0L)),
      Some("""
        SELECT event_type,
          ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
          COUNT(*) AS grp_n,
          CAST(COUNT(DISTINCT CAST(floor("value" / 100) AS BIGINT))
            AS BIGINT) AS l_distinct,
          CAST(CASE WHEN COUNT(DISTINCT CAST(floor("value" / 100)
            AS BIGINT)) >= 3 THEN 1 ELSE 0 END AS BIGINT) AS diverse
        FROM events WHERE "value" IS NOT NULL
        GROUP BY 1, 2""")),

    // ---- q314: point-in-time training-set construction — for every
    //      event, the user's features STRICTLY BEFORE it (prior event
    //      count, prior spend, recency) and a label STRICTLY AFTER it
    //      (any purchase within the next 3 days) — the feature-store
    //      join that makes supervised data leakage-free: no feature
    //      reads the future, no label reads the present. Priors ride
    //      a ROWS unbounded..−1 frame under the deterministic
    //      (ts, event_id) order; the label rides a VALUE-based RANGE
    //      (1 .. 3d µs) frame on ts alone, so timestamp ties cannot
    //      flip it. Rows within 3 days of the stream's end are
    //      dropped (right-censored labels, fixed literal cutoff).
    //      All windows user-partitioned; every column exact int64. ----
    QueryDef(
      "q314_pit_training_set",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val horizon = 259200000000L // 3 days in µs
        val censor = 1706400000000000L // 2024-01-28T00:00Z
        val wRows = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wLag = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val wRange = Window.partitionBy("user_id").orderBy(col("ts"))
          .rangeBetween(1L, horizon)
        t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
            when(col("event_type") === "purchase", 1L).otherwise(0L)
              .as("pos"))
          .withColumn("n_prior", count(lit(1)).over(wRows))
          .withColumn("spend_prior",
            coalesce(sum(col("cents")).over(wRows), lit(0L)))
          .withColumn("recency_us", col("ts") - lag(col("ts"), 1).over(wLag))
          .withColumn("future_purchases",
            coalesce(sum(col("pos")).over(wRange), lit(0L)))
          .filter(col("ts") < censor)
          .select(col("event_id"), col("user_id"), col("n_prior"),
            col("spend_prior"), col("recency_us"),
            col("future_purchases"),
            when(col("future_purchases") > 0, 1L).otherwise(0L)
              .as("label"))
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts,
            CAST(floor("value" * 100) AS BIGINT) AS cents,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
          FROM events WHERE "value" IS NOT NULL),
        w AS (
          SELECT event_id, user_id, ts,
            COUNT(*) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS n_prior,
            COALESCE(CAST(SUM(cents) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS spend_prior,
            ts - lag(ts) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS recency_us,
            COALESCE(CAST(SUM(pos) OVER (PARTITION BY user_id
              ORDER BY ts
              RANGE BETWEEN 1 FOLLOWING AND 259200000000 FOLLOWING)
              AS BIGINT), 0) AS future_purchases
          FROM e)
        SELECT event_id, user_id, n_prior, spend_prior, recency_us,
          future_purchases,
          CAST(CASE WHEN future_purchases > 0 THEN 1 ELSE 0 END
            AS BIGINT) AS label
        FROM w WHERE ts < 1706400000000000""")),
  )
}
