package graft

/** Row invariants of the round-7+ queries, and the plan facts the
  * registry golden (QueryPackSpec) cannot express: scan pruning, which
  * columns reach a window, join or aggregate, map-side combines, and
  * final-plan join strategies. Exchange, scan, sort, window, top-k and
  * product counts are pinned by the golden.
  */
class NewQueryPlanSpec extends SparkTestBase {

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.collect() // settle AQE so the final adaptive plan is inspected
    df.queryExecution.executedPlan.toString()
  }

  test("q83/q84 union branches: filters push to the scan, no products") {
    for (q <- Seq("q83_report_symbiotic_cv", "q84_report_blazar_states")) {
      val p = plan(q)
      // both branches scan columnar parquet with a pushed-down gate —
      // the branch predicates are derived columns, but the scans must
      // still prune columns (no full-width read)
      assert(!p.contains("stopword") && !p.contains("payload"), q)
    }
  }

  test("q86 quantizer: shuffle-free map-only plan, scan prunes") {
    val df = SparkEntry.queries("q86_embedding_quantize")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // only (vec_id, embedding) should be read
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"q86 scan reads unneeded columns:\n$p")
  }

  test("q88 curation pipeline: no document text crosses a shuffle") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q88_curation_pipeline")(spark, sf)
    // the dedup window's input must be the skinny projection — text is
    // reduced to (n_tokens, fp, redacted) BEFORE the fp-keyed exchange,
    // so the shuffle carries fingerprints, never documents
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "dedup window missing from the plan")
    wins.foreach { w =>
      val cols = w.child.output.map(_.name)
      assert(!cols.contains("text"),
        s"document text flows into the dedup shuffle: $cols")
    }
  }

  test("q90 line dedup: counting path ships fingerprints, never lines") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = SparkEntry.queries("q90_line_dedup")(spark, sf)
    // every aggregation input (the line-frequency count and the per-doc
    // removal collection) must be skinny — (doc_id, pos, 16-byte fp)
    // triples; text reaches only the final map-side reassembly
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a
    }
    assert(aggs.nonEmpty, "line-frequency aggregate missing")
    aggs.foreach { a =>
      val cols = a.child.output.map(_.name)
      assert(!cols.exists(c => c == "t" || c == "text" || c == "col"),
        s"line text flows into an aggregation shuffle: $cols")
    }
    // correctness spot-check: boilerplate planted on >= 1/3 of docs is
    // removed everywhere, and kept+removed reconstructs the line count
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cleaned = r.getAs[String]("cleaned_text")
      assert(!cleaned.contains("subscribe to our newsletter"),
        s"repeated boilerplate survived in doc ${r.getAs[Long]("doc_id")}")
      assert(!cleaned.contains("all rights reserved"), "footer survived")
      val nLines =
        if (cleaned.isEmpty) 0L else (cleaned.count(_ == '\n') + 1).toLong
      assert(r.getAs[Long]("n_kept") == nLines,
        s"n_kept disagrees with reassembled text for ${r.get(0)}")
    }
  }

  test("q91 epoch shuffle: skinny window input, no text, no collect_list") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q91_epoch_shuffle")(spark, sf)
    val opt = df.queryExecution.optimizedPlan
    // the shard-rank window must see only (doc_id, nt, h, shard) —
    // document text stays at the scan; and the manifest must certify
    // order via the positional checksum, never by collecting members
    val wins = opt.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "shard-rank window missing")
    wins.foreach { w =>
      val cols = w.child.output.map(_.name)
      assert(!cols.contains("text"),
        s"text flows into the epoch-shuffle exchange: $cols")
    }
    assert(!opt.toString.contains("collect_list"),
      "manifest collects shard members — dies at corpus scale")
    // determinism: two runs produce identical manifests
    assert(df.collect().toSet ==
      SparkEntry.queries("q91_epoch_shuffle")(spark, sf).collect().toSet)
  }

  test("q93 incremental dedup: text never crosses the fp join or window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, Window => LWindow}
    val df = SparkEntry.queries("q93_incremental_dedup")(spark, sf)
    val opt = df.queryExecution.optimizedPlan
    val joins = opt.collect { case j: LJoin => j }
    val wins = opt.collect { case w: LWindow => w }
    assert(joins.nonEmpty && wins.nonEmpty, "fp join or window missing")
    (joins.flatMap(j => j.left.output ++ j.right.output) ++
      wins.flatMap(_.child.output)).foreach { a =>
      assert(a.name != "text",
        "document text flows into the dedup join/window")
    }
    // semantics spot-check: recrawls are corpus-dups despite uppercasing,
    // batch twins keep exactly one copy
    val rows = df.collect()
    val recrawls = rows.filter(_.getAs[Long]("doc_id") >= 2000000L)
      .filter(_.getAs[Long]("doc_id") < 3000000L)
    assert(recrawls.nonEmpty &&
      recrawls.forall(_.getAs[Long]("dup_corpus") == 1L),
      "uppercased re-crawl escaped canonical dedup")
    val twins = rows.filter(_.getAs[Long]("doc_id") >= 3000000L)
    assert(twins.nonEmpty)
    rows.groupBy(_.getAs[String]("fp")).foreach { case (_, g) =>
      assert(g.map(_.getAs[Long]("keep")).sum <= 1L,
        "more than one copy of a fingerprint kept")
    }
  }

  test("q94 temperature mix: rates broadcast, corpus never shuffles text") {
    val df = SparkEntry.queries("q94_temperature_mix")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"),
      s"per-source rates must broadcast to the corpus scan:\n$p")
    // sampling honors the temperature: every source's kept count is
    // within the 16-bit quantization of rate*n, and no source is empty
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_total")
      val kept = r.getAs[Long]("n_kept")
      val rate = r.getAs[Double]("keep_rate")
      assert(kept <= n, "kept more than exist")
      // hash sampling concentration: |kept - rate*n| small for md5
      assert(math.abs(kept - rate * n) <= math.max(8.0, 0.35 * n),
        s"source ${r.get(0)}: kept=$kept rate*n=${rate * n}")
    }
  }

  test("q96 DSIR: likelihood table broadcasts, text stays out of aggs") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = SparkEntry.queries("q96_dsir_importance")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // the <=256-row likelihood-ratio table must come back to the
    // per-doc bucket counts as a broadcast, never a shuffled join
    assert(p.contains("BroadcastHashJoin"),
      s"bucket-ratio table must broadcast:\n$p")
    // every aggregation shuffles only (doc_id, is_target, b) keys with
    // bigint counts — raw text and 32-char gram strings are projected
    // away before any exchange
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
      .foreach { a =>
        val cols = a.child.output.map(_.name)
        assert(!cols.contains("text") && !cols.contains("g"),
          s"text/grams flow into an aggregation shuffle: $cols")
      }
    // semantics: every doc scored exactly once; empty docs are never
    // kept; the corpus-mean likelihood ratio sits near parity (the
    // target set is a pseudo-random subset, so the two hashed-bigram
    // profiles are close — mean ratio must land well inside [1/2, 3/2])
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
    assert(rows.map(_.getAs[Long]("is_target")).distinct.sorted.toSeq
      == Seq(0L, 1L), "planted target predicate degenerated")
    rows.filter(_.getAs[Long]("n_bigrams") == 0L).foreach { r =>
      assert(r.getAs[Long]("score") == 0L && r.getAs[Long]("kept") == 0L)
    }
    val totScore = rows.map(_.getAs[Long]("score")).sum.toDouble
    val totGrams = rows.map(_.getAs[Long]("n_bigrams")).sum.toDouble
    assert(totGrams > 0 &&
      totScore > 0.5 * 16384 * totGrams && totScore < 1.5 * 16384 * totGrams,
      s"corpus-mean ratio far from parity: ${totScore / (16384 * totGrams)}")
  }

  test("q97 winnowing: text stays out of shuffles, quotes fully matched") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join => LJoin}
    val df = SparkEntry.queries("q97_winnowing")(spark, sf)
    df.collect()
    // fingerprint selection is a per-row HOF; only (doc_id, source, fp)
    // may reach the fp-count aggregate and the fp-keyed join
    val opt = df.queryExecution.optimizedPlan
    (opt.collect { case a: Aggregate => a.child.output } ++
      opt.collect { case j: LJoin => j.left.output ++ j.right.output })
      .flatten.foreach { a =>
        assert(a.name != "text" && a.name != "g",
          s"text/grams cross a winnowing shuffle: ${a.name}")
      }
    // the winnowing guarantee on the planted quotes: a quote is the
    // source doc's 12-token prefix, so its gram list is the source's
    // gram prefix and every window min coincides — all fingerprints
    // shared, shared_frac exactly 1, flagged
    val rows = df.collect()
    val quotes = rows.filter(_.getAs[Long]("doc_id") >= 5000000L)
    assert(quotes.nonEmpty, "no quote docs planted")
    quotes.foreach { r =>
      assert(r.getAs[Long]("n_fps") > 0L)
      assert(r.getAs[Double]("shared_frac") == 1.0 &&
        r.getAs[Long]("flagged") == 1L,
        s"quote ${r.getAs[Long]("doc_id")} not fully matched")
    }
    // and each quote's source doc shares at least one fingerprint
    val quoted = quotes.map(_.getAs[Long]("doc_id") - 5000000L).toSet
    rows.filter(r => quoted.contains(r.getAs[Long]("doc_id"))).foreach { r =>
      assert(r.getAs[Long]("n_shared") > 0L,
        s"source doc ${r.getAs[Long]("doc_id")} shows no shared fps")
    }
  }

  test("q98 source matrix: fp-keyed self-join only, mirror detected") {
    val df = SparkEntry.queries("q98_source_dup_matrix")(spark, sf)
    val rows = df.collect()
    // every planted mirror pair is found, matching on the CANONICAL
    // form (the mirror source holds uppercased copies)
    val mirrorPairs = rows.filter(r =>
      r.getAs[String]("source_a") == "mirror" ||
        r.getAs[String]("source_b") == "mirror")
    assert(mirrorPairs.nonEmpty, "no mirror overlap detected")
    rows.foreach { r =>
      val (sh, na, nb) = (r.getAs[Long]("n_shared"),
        r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(sh > 0L && sh <= math.min(na, nb),
        s"impossible overlap: $r")
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"),
        s"pair not canonicalized: $r")
      assert(r.getAs[Double]("overlap") == sh.toDouble / math.min(na, nb))
    }
    // mirror holds ONLY copies — overlap with the union of partners
    // accounts for every mirror fingerprint
    val mirrorTotal = mirrorPairs.map(_.getAs[Long]("n_shared")).sum
    val mirrorN = mirrorPairs.map(r =>
      if (r.getAs[String]("source_a") == "mirror") r.getAs[Long]("n_a")
      else r.getAs[Long]("n_b")).head
    assert(mirrorTotal >= mirrorN,
      s"mirror fps unaccounted: shared=$mirrorTotal size=$mirrorN")
  }

  test("q99 grouped split: zero leakage by construction, naive leaks") {
    val df = SparkEntry.queries("q99_grouped_split")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byFp = rows.groupBy(_.getAs[String]("fp"))
    // the guarantee: a duplicate group NEVER straddles splits when the
    // split key is the group fingerprint
    byFp.foreach { case (fp, g) =>
      assert(g.map(_.getAs[String]("split_grouped")).distinct.length == 1,
        s"group $fp leaked across grouped splits")
    }
    // the failure mode being fixed: raw-text hashing scatters the
    // planted whitespace-variant twins across splits
    val naiveLeaks = byFp.count(_._2
      .map(_.getAs[String]("split_naive")).distinct.length > 1)
    assert(naiveLeaks > 0,
      "planted twins failed to demonstrate naive-split leakage")
    // twins really are grouped: every planted twin shares its fp group
    rows.filter(_.getAs[Long]("doc_id") >= 7000000L).foreach { r =>
      assert(r.getAs[Long]("grp_n") >= 2L,
        s"twin ${r.getAs[Long]("doc_id")} not matched to its original")
    }
    // 80/10/10 within md5-uniformity tolerance
    val n = rows.length.toDouble
    val frac = rows.groupBy(_.getAs[String]("split_grouped"))
      .map { case (k, v) => k -> v.length / n }
    assert(math.abs(frac.getOrElse("train", 0.0) - 0.797) < 0.1, frac)
    assert(frac.getOrElse("val", 0.0) > 0.02 &&
      frac.getOrElse("test", 0.0) > 0.02, frac)
  }

  test("q100 centroids: map-side combine after explode, tiny broadcasts") {
    val df = SparkEntry.queries("q100_source_centroids")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // the 64× per-dim explode must collapse via partial aggregation
    // BEFORE the (source, dim) exchange — the shuffle carries ≤ S·64
    // partials per task, not 64× the corpus
    assert(p.contains("partial_sum"),
      s"per-dim sums not map-side combined:\n$p")
    // all downstream joins are on kilobyte-scale centroid tables
    assert(p.contains("BroadcastHashJoin"), s"centroid joins shuffle:\n$p")
    val rows = df.collect()
    assert(rows.length > 1, "expected one row per source")
    assert(rows.map(_.getAs[Long]("n_vecs")).sum > 0L)
    rows.foreach { r =>
      val cg = r.getAs[Double]("cos_global")
      val nc = r.getAs[Double]("nn_cos")
      assert(cg >= -1.0 - 1e-12 && cg <= 1.0 + 1e-12, s"cos out of range: $r")
      assert(nc >= -1.0 - 1e-12 && nc <= 1.0 + 1e-12, s"cos out of range: $r")
      assert(r.getAs[String]("nn_source") != r.getAs[String]("source"),
        s"source is its own nearest neighbor: $r")
    }
  }

  test("q101 classifier inference: map-only plan, no exchange at all") {
    val df = SparkEntry.queries("q101_classifier_inference")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // only the needed columns reach the scan
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>")
      || p.contains("ReadSchema: struct<doc_id:bigint,source:string,text:string>"),
      s"q101 scan reads unneeded columns:\n$p")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sc, pr) = (r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("score"), r.getAs[Long]("pred"))
      // weights are in [-8, 7]: the fold is bounded by 8 per gram
      assert(math.abs(sc) <= 8 * math.max(n, 1),
        s"score outside weight envelope: $r")
      assert(pr == (if (sc > 0) 1L else 0L), s"pred disagrees: $r")
      if (n == 0) assert(sc == 0L && pr == 0L)
    }
    // a fixed model must not be degenerate on real text: both classes
    val preds = rows.map(_.getAs[Long]("pred")).toSet
    assert(preds == Set(0L, 1L), s"degenerate classifier output: $preds")
  }

  test("q102 surprisal: distinct-collapse before the token join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val df = SparkEntry.queries("q102_surprisal_score")(spark, sf)
    // the token-keyed count join must see the per-doc COLLAPSED
    // multiset (doc_id, tok, k), never raw text or one row per
    // occurrence of the exploded column
    val opt = df.queryExecution.optimizedPlan
    opt.collect { case j: LJoin => j }
      .flatMap(j => j.left.output ++ j.right.output).foreach { a =>
        assert(a.name != "text", "raw text crosses the surprisal join")
      }
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sum) =
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_surprisal"))
      assert(n > 0L, s"doc with no tokens surfaced: $r")
      assert(sum >= 0L, s"negative surprisal: $r")
      assert(r.getAs[Double]("mean_surprisal") == sum.toDouble / n)
      assert(r.getAs[Long]("flagged") == (if (sum >= 6 * n) 1L else 0L))
    }
    // surprisal must separate documents (a constant score would mean
    // the corpus stats never reached the fold)
    assert(rows.map(_.getAs[Double]("mean_surprisal")).distinct.length > 1)
  }

  test("q103 BPE pairs: vocab collapse combines map-side, top-K is O(k)") {
    val df = SparkEntry.queries("q103_bpe_pairs")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // the ONLY corpus-sized shuffle is the wordcount — it must be
    // partial-aggregated before the exchange; pair counting then runs
    // over the vocabulary, not corpus positions
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"wordcount not map-side combined:\n$p")
    val rows = df.collect()
    assert(rows.length == 20, s"expected top-20, got ${rows.length}")
    assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 20L),
      "ranks must be 1..20")
    val byRank = rows.sortBy(_.getAs[Long]("rank"))
    byRank.foreach { r =>
      assert(r.getAs[String]("pair").length == 2, s"non-bigram pair: $r")
      assert(r.getAs[Long]("cnt") > 0L, s"non-positive count: $r")
    }
    // counts non-increasing with rank; ties broken by pair text
    byRank.sliding(2).foreach { case Array(a, b) =>
      val (ca, cb) = (a.getAs[Long]("cnt"), b.getAs[Long]("cnt"))
      assert(ca > cb || (ca == cb &&
        a.getAs[String]("pair") < b.getAs[String]("pair")),
        s"rank order violated: $a then $b")
    }
  }

  test("q104 k-anonymity: one QI-keyed exchange, group counts honest") {
    val df = SparkEntry.queries("q104_k_anonymity")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // grp_n must equal the true group size, kept must be grp_n >= 5
    val sizes = rows.groupBy(r => (r.getAs[String]("source"),
      r.getAs[String]("lang"), r.getAs[Long]("len_bucket")))
      .map { case (_, g) => g.head.getAs[Long]("grp_n") -> g.length }
    sizes.foreach { case (claimed, actual) =>
      assert(claimed == actual.toLong, s"grp_n $claimed != $actual")
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("kept") ==
        (if (r.getAs[Long]("grp_n") >= 5L) 1L else 0L), s"kept flag: $r")
    }
  }

  test("q105 kmeans: assignment is broadcast fold, update combines map-side") {
    val df = SparkEntry.queries("q105_kmeans_refine")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    // the centroid-update explode collapses before its exchange
    assert(p.contains("partial_sum"),
      s"(cluster, dim) sums not map-side combined:\n$p")
    val rows = df.collect()
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total,
      "every vector must land in exactly one cluster")
    assert(rows.length <= 8 && rows.nonEmpty, s"got ${rows.length} clusters")
    rows.foreach { r =>
      val (n, in) = (r.getAs[Long]("n_vecs"), r.getAs[Long]("inertia"))
      assert(n > 0L && in >= 0L, s"degenerate cluster row: $r")
      assert(r.getAs[Double]("mean_dist") == in.toDouble / n,
        s"mean_dist is not the exact division: $r")
    }
  }

  test("q106 vocab coverage: TakeOrdered cut, one-row totals broadcast") {
    val df = SparkEntry.queries("q106_vocab_coverage")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"wordcount not map-side combined:\n$p")
    val rows = df.collect().sortBy(_.getAs[Long]("k"))
    assert(rows.map(_.getAs[Long]("k")).toSeq ==
      Seq(16L, 64L, 256L, 1024L))
    // coverage is monotone in k and never exceeds the corpus
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("covered") <= b.getAs[Long]("covered"),
        s"coverage not monotone: $a then $b")
    }
    rows.foreach { r =>
      val (cov, tot) =
        (r.getAs[Long]("covered"), r.getAs[Long]("total_tokens"))
      assert(cov > 0L && cov <= tot, s"coverage out of range: $r")
      assert(r.getAs[Double]("coverage") == cov.toDouble / tot)
    }
  }

  test("q107 embedding health: per-row norm fold, one combinable rollup") {
    val df = SparkEntry.queries("q107_embedding_health")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"health rollup not map-side combined:\n$p")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_dims") == r.getAs[Long]("max_dims"),
        s"ragged embedding dims surfaced: $r")
      assert(r.getAs[Long]("min_qnorm") <= r.getAs[Long]("max_qnorm"))
      val mean = r.getAs[Double]("mean_qnorm")
      assert(mean >= r.getAs[Long]("min_qnorm").toDouble &&
        mean <= r.getAs[Long]("max_qnorm").toDouble,
        s"mean outside [min, max]: $r")
    }
  }

  test("q108 corpus→shards: 2 keyed exchanges, manifest agg reuses them") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q108_corpus_to_shards")(spark, sf)
    // document text must never enter a window (the q88 discipline)
    val opt = df.queryExecution.optimizedPlan
    opt.collect { case w: LWindow => w }.foreach { w =>
      w.child.output.foreach(a =>
        assert(a.name != "text", "text crosses a pipeline exchange"))
    }
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nd, nb, st, wt) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_bins"), r.getAs[Long]("sum_tokens"),
        r.getAs[Double]("weighted_tokens"))
      assert(nd > 0L && st > 0L, s"empty shard surfaced: $r")
      // cumulative next-fit: bin index <= sum/2048
      assert(nb >= 1L && nb <= st / 2048L + 1L, s"bin count off: $r")
      // dyadic weights are >= 1 (thr <= 256)
      assert(wt >= st.toDouble, s"weighted mass below raw mass: $r")
      assert(r.getAs[String]("min_fp") <= r.getAs[String]("max_fp"))
    }
    // sampling must actually drop docs: the manifest covers fewer docs
    // than the corpus
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum < corpus,
      "budget sampling dropped nothing")
  }

  test("q109 quality tiers: one source-keyed window, quartiles honest") {
    val df = SparkEntry.queries("q109_quality_tiers")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, g) =>
      val byTier = g.groupBy(_.getAs[Long]("tier")).view
        .mapValues(_.length).toMap
      assert(byTier.keySet.subsetOf(Set(1L, 2L, 3L, 4L)), src)
      // ntile: bucket sizes differ by at most 1
      if (byTier.size == 4)
        assert(byTier.values.max - byTier.values.min <= 1,
          s"$src quartiles unbalanced: $byTier")
      // tier 1 scores dominate tier 4
      if (byTier.contains(1L) && byTier.contains(4L)) {
        val t1min = g.filter(_.getAs[Long]("tier") == 1L)
          .map(_.getAs[Long]("score")).min
        val t4max = g.filter(_.getAs[Long]("tier") == 4L)
          .map(_.getAs[Long]("score")).max
        assert(t1min >= t4max, s"$src tier order inverted")
      }
    }
  }

  test("q110 keep-best dedup: fp window only, policy genuinely differs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q110_dedup_keep_best")(spark, sf)
    df.collect()
    val opt = df.queryExecution.optimizedPlan
    // score + fp are computed in the map projection; text never
    // crosses the dedup exchange
    opt.collect { case w: LWindow => w }.foreach { w =>
      w.child.output.foreach(a =>
        assert(a.name != "text", "text crosses the dedup window"))
    }
    val rows = df.collect()
    val kept = rows.map(_.getAs[Long]("n_kept")).sum
    val docs = rows.map(_.getAs[Long]("n_docs")).sum
    val recrawl = rows.map(_.getAs[Long]("n_kept_recrawl")).sum
    val disagree = rows.map(_.getAs[Long]("n_policy_disagree")).sum
    assert(kept < docs, "twins must dedup away")
    // the clean re-crawl must WIN under keep-best — the policy is
    // load-bearing, not a relabeled min-id
    assert(recrawl > 0L, "keep-best never selected a re-crawl")
    assert(disagree == recrawl,
      "every kept re-crawl must be a min-id disagreement (and only those)")
  }

  test("q111 decontaminate: bench broadcasts, excision mask is honest") {
    val df = SparkEntry.queries("q111_decontaminate")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_excised") ==
        r.getAs[Long]("n_tokens"), s"mask does not partition tokens: $r")
      assert(r.getAs[String]("clean_fp").length == 32)
    }
    // the benchmark must actually bite, and must not excise everything
    assert(rows.exists(_.getAs[Long]("n_excised") > 0L),
      "no contamination excised — benchmark never matched")
    assert(rows.exists(_.getAs[Long]("n_excised") == 0L),
      "every doc excised — the 3-gram match is too loose")
    // benchmark docs themselves are excluded from the output
    assert(!rows.exists(_.getAs[Long]("doc_id") % 20 == 0))
  }

  test("q112 grouping sets: one aggregate expand, no union of scans") {
    val df = SparkEntry.queries("q112_grouping_sets")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    // native GROUPING SETS = Expand inside ONE aggregate — a naive
    // rewrite would union three separate scans of orders
    assert(p.contains("Expand"), s"grouping sets lost the Expand:\n$p")
    val rows = df.collect()
    // 15 detail + 5 per-priority subtotals + 1 grand total
    assert(rows.length == 21, s"got ${rows.length} rows")
    val grand = rows.filter(r =>
      r.getAs[Long]("g_status") == 1L && r.getAs[Long]("g_prio") == 1L)
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_orders") ==
      rows.filter(r => r.getAs[Long]("g_status") == 0L &&
        r.getAs[Long]("g_prio") == 0L).map(_.getAs[Long]("n_orders")).sum,
      "grand total must equal the sum of detail rows")
  }

  test("q113 hopping window: generator expand, combinable agg, 2x rows") {
    val df = SparkEntry.queries("q113_hopping_window")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(p.contains("partial_count") || p.contains("partial"),
      s"window agg lost map-side combine:\n$p")
    val rows = df.collect()
    val events = spark.read.parquet(s"$sf/events.parquet").count()
    // every event lands in exactly size/slide = 2 windows
    assert(rows.map(_.getAs[Long]("n_events")).sum == 2 * events,
      "hopping expansion must produce exactly 2 windows per event")
    // window starts are multiples of the 300 s slide
    assert(rows.forall(_.getAs[Long]("w_start") % 300 == 0))
  }

  test("q114 char entropy: map-only, shuffle-free, scan prunes") {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Join => LJoin, RepartitionOperation}
    val df = SparkEntry.queries("q114_char_entropy")(spark, sf)
    // map-only up to the r13 conditional input spread (a no-op on a
    // parallel scan): at most ONE repartition, no joins, and no other
    // exchange-introducing operator in the optimized plan
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect { case j: LJoin => j }.isEmpty,
      s"entropy gate joins:\n$opt")
    val reparts = opt.collect { case r: RepartitionOperation => r }
    assert(reparts.size <= 1,
      s"entropy gate shuffles beyond the input spread:\n$opt")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // surrogate bound: 0 <= H <= n·log2(26) and the flag is honest
    rows.foreach { r =>
      val n = r.getAs[Long]("n_letters"); val h = r.getAs[Long]("h_bits")
      assert(h >= 0 && h <= n * 5, s"entropy out of range: $r")
      assert((r.getAs[Long]("mean_millibits") < 1500) ==
        (r.getAs[Long]("low_entropy") == 1L))
    }
    // a constant string must score 0; natural text must not
    assert(rows.exists(_.getAs[Long]("h_bits") > 0))
  }

  test("q115 MAD outliers: medians broadcast back, threshold honest") {
    val df = SparkEntry.queries("q115_mad_outliers")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0)
      assert(r.getAs[Long]("n_outliers") < r.getAs[Long]("n"),
        s"outliers must be the minority under a 3-MAD fence: $r")
    }
  }

  test("q116 containment: ids-only inverted index, excerpts found") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val df = SparkEntry.queries("q116_containment_dedup")(spark, sf)
    // no join input may carry document text — gram md5s + ids only
    df.queryExecution.optimizedPlan.collect { case j: LJoin => j }
      .foreach { j =>
        (j.left.output ++ j.right.output).foreach(a =>
          assert(a.name != "text", "text crosses the containment join"))
      }
    val rows = df.collect()
    assert(rows.nonEmpty, "planted excerpts must surface")
    // every planted excerpt's grams are a subset of its source doc's:
    // the (excerpt, source-doc) pair must report containment 1.0
    assert(rows.exists(r => r.getAs[Long]("a") - 2000000L ==
      r.getAs[Long]("b") && r.getAs[Long]("containment_ppm") == 1000000L),
      "an excerpt must be fully contained in its own source doc")
    rows.foreach(r => assert(r.getAs[Long]("containment_ppm") >= 900000L))
  }

  test("q117 PQ search: codebook broadcasts, scoring never shuffles " +
    "vectors, ADC agrees with codes") {
    val df = SparkEntry.queries("q117_pq_search")(spark, sf)
    val rows = df.collect()
    val probes = rows.map(_.getAs[Long]("probe_id")).distinct
    assert(probes.nonEmpty)
    probes.foreach { pid =>
      val g = rows.filter(_.getAs[Long]("probe_id") == pid)
      assert(g.length == 5, s"probe $pid: expected top-5, got ${g.length}")
      // ranks are 1..5 and adist is non-decreasing in rank
      val sorted = g.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      val dists = sorted.map(_.getAs[Long]("adist")).toSeq
      assert(dists == dists.sorted, s"probe $pid adist not sorted: $dists")
      assert(dists.forall(_ >= 0L))
    }
  }

  test("q119 gap fill: grid broadcasts, fill is honest, no event reshuffle") {
    val df = SparkEntry.queries("q119_gap_fill")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"gap-fill join must broadcast the tiny side:\n$p")
    val rows = df.collect()
    val types = rows.map(_.getAs[String]("event_type")).distinct.length
    val days = rows.map(_.getAs[Long]("day")).distinct.length
    // dense grid: every (type, day) cell present exactly once
    assert(rows.length == types * days, "grid is not dense")
    assert(rows.forall(r => (r.getAs[Long]("n") == 0L) ==
      (r.getAs[Long]("is_gap") == 1L)))
    val events = spark.read.parquet(s"$sf/events.parquet").count()
    assert(rows.map(_.getAs[Long]("n")).sum == events,
      "fill must conserve the event count")
  }

  test("q120 unpivot: stack generates 3 metrics per key, no re-scan") {
    val df = SparkEntry.queries("q120_unpivot")(spark, sf)
    val rows = df.collect()
    val flags = rows.map(_.getAs[String]("l_returnflag")).distinct
    assert(rows.length == flags.length * 3)
    assert(rows.map(_.getAs[String]("metric")).distinct.sorted.toSeq ==
      Seq("n_items", "sum_price", "sum_qty"))
  }

  test("q121 rank family: one partition exchange feeds both sorts") {
    val df = SparkEntry.queries("q121_rank_family")(spark, sf)
    val rows = df.collect().filter(_.getAs[String]("l_returnflag") == "A")
    val n = rows.length
    // rank family invariants on one partition
    assert(rows.map(_.getAs[Long]("rnk")).max <= n)
    val cd = rows.map(_.getAs[Double]("cdist"))
    assert(cd.forall(c => c > 0.0 && c <= 1.0))
    assert(rows.map(_.getAs[Double]("prnk")).forall(c => c >= 0.0 && c <= 1.0))
    // first_q is the partition minimum under the tie-broken order
    assert(rows.map(_.getAs[Double]("first_q")).distinct.length == 1)
    assert(rows.head.getAs[Double]("first_q") ==
      rows.map(_.getAs[Double]("l_quantity")).min)
  }

  test("q122 bitwise aggs: mask bits match distinct types, xor order-free") {
    val df = SparkEntry.queries("q122_bitwise_agg")(spark, sf)
    val rows = df.collect()
    val nTypes = spark.read.parquet(s"$sf/events.parquet")
      .select("event_type").distinct().count()
    rows.foreach { r =>
      val mask = r.getAs[Long]("type_mask")
      assert(java.lang.Long.bitCount(mask) == r.getAs[Long]("n_types"))
      assert(mask < (1L << nTypes), s"mask uses unmapped bits: $r")
      assert(r.getAs[Long]("n_types") <= r.getAs[Long]("n_events"))
    }
    // some user must touch more than one type for the mask to matter
    assert(rows.exists(_.getAs[Long]("n_types") > 1))
  }

  test("q123 url canonicalize: rules are load-bearing, map-side combine") {
    val df = SparkEntry.queries("q123_url_canonicalize")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(p.contains("partial"), s"dedup agg lost map-side combine:\n$p")
    val rows = df.collect()
    rows.foreach { r =>
      val c = r.getAs[String]("canonical")
      assert(c == c.toLowerCase || !c.takeWhile(_ != '/').exists(_.isUpper),
        s"host not lowercased: $c")
      assert(!c.contains(":443") && !c.startsWith("www."), s"residue: $c")
      assert(!c.contains("utm_"), s"tracking param survived: $c")
    }
    // canonicalization must actually merge raw variants: raw URLs are
    // unique per doc, canonical groups are not
    assert(rows.exists(_.getAs[Long]("n_docs") > 1L),
      "no dedup happened — the planted variants never merged")
  }

  test("q124 heaps/zipf: one wordcount shuffle, sane growth stats") {
    val df = SparkEntry.queries("q124_heaps_zipf")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("vocab") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("med_count") <= r.getAs[Long]("top_count"))
      assert(r.getAs[Long]("zipf_bits") >= 0L, s"zipf gap negative: $r")
      assert(r.getAs[Long]("vocab_ppm") <= 1000000L)
    }
    // the driver corpus draws tokens near-uniformly (top ≈ 70,
    // median ≈ 50 per source) — exactly what this audit exists to
    // flag vs natural text's Zipf head; some source still clears one
    // whole bit of head/median gap
    assert(rows.exists(_.getAs[Long]("zipf_bits") >= 1L))
    assert(rows.forall(_.getAs[Long]("zipf_bits") <= 3L),
      "driver corpus is near-uniform; a large gap means the math broke")
  }

  test("q125 SCD2: one user exchange, intervals tile each user's stream") {
    val df = SparkEntry.queries("q125_scd2")(spark, sf)
    val rows = df.collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, g) =>
      val sorted = g.sortBy(_.getAs[Long]("valid_from"))
      // exactly one open interval per user, and it is the last one
      assert(g.count(_.getAs[Long]("is_current") == 1L) == 1, s"user $u")
      assert(sorted.last.isNullAt(sorted.last.fieldIndex("valid_to")))
      // intervals chain: each valid_to equals the next valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to") == b.getAs[Long]("valid_from"),
            s"user $u intervals do not tile")
          // consecutive intervals must actually change type
          assert(a.getAs[String]("event_type") !=
            b.getAs[String]("event_type"), s"user $u uncompressed run")
        case _ =>
      }
    }
  }

  test("q126 funnel: order constraint is load-bearing, depths honest") {
    val df = SparkEntry.queries("q126_funnel")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Long]("funnel_depth")
      assert(d >= 1 && d <= 3)
      // step times strictly increase as far as the user got
      if (d >= 2) assert(r.getAs[Long]("t2") > r.getAs[Long]("t1"))
      if (d == 3) assert(r.getAs[Long]("t3") > r.getAs[Long]("t2"))
      // depth is exactly the non-null step count
      assert(d == 1 + (if (r.isNullAt(r.fieldIndex("t2"))) 0 else 1)
        + (if (r.isNullAt(r.fieldIndex("t3"))) 0 else 1))
    }
    // the ORDER gate must bite: for some user the gated step-2 time is
    // LATER than their unconditional first click (their first click
    // happened before their first view and was correctly rejected)
    import org.apache.spark.sql.functions.{col => c, min => mn}
    val naiveClick = graft.core.Tables.t(spark, sf, "events")
      .filter(c("event_type") === "click")
      .groupBy("user_id").agg(mn(c("ts")).as("naive_t2"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        r.getAs[Long]("naive_t2")).toMap
    assert(rows.exists { r =>
      !r.isNullAt(r.fieldIndex("t2")) &&
        naiveClick.get(r.getAs[Long]("user_id"))
          .exists(_ < r.getAs[Long]("t2"))
    }, "gated t2 always equals the naive first click — order gate dead")
  }

  test("q127 retention: cohort tiling conserves activity, age-0 full") {
    val df = SparkEntry.queries("q127_retention")(spark, sf)
    val rows = df.collect()
    assert(rows.forall(_.getAs[Long]("age_days") >= 0L))
    // every cohort has an age-0 row and it is its maximum
    rows.groupBy(_.getAs[Long]("cohort_day")).foreach { case (c, g) =>
      val age0 = g.find(_.getAs[Long]("age_days") == 0L)
      assert(age0.isDefined, s"cohort $c missing age 0")
      assert(g.forall(_.getAs[Long]("n_users") <=
        age0.get.getAs[Long]("n_users")), s"cohort $c grows after day 0")
    }
    // matrix conserves the distinct (user, day) activity volume
    import org.apache.spark.sql.functions.{col => c, expr}
    val userDays = graft.core.Tables.t(spark, sf, "events")
      .select(c("user_id"), expr("ts div 86400000000"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == userDays)
  }

  test("q118 source affinity: one corpus pass, S-row broadcast pairs") {
    val df = SparkEntry.queries("q118_source_affinity")(spark, sf)
    val rows = df.collect()
    val s2 = rows.flatMap(r => Seq(r.getAs[String]("src_a"),
      r.getAs[String]("src_b"))).distinct.length
    // S·(S−1)/2 pairs, upper triangle only
    assert(rows.length == s2 * (s2 - 1) / 2, s"expected full triangle")
    rows.foreach { r =>
      assert(r.getAs[Long]("na2") > 0 && r.getAs[Long]("nb2") > 0)
      val c = r.getAs[Double]("cosine")
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12, s"cosine bound: $r")
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
    }
  }

  test("q138 inverted index: head never exceeds 8 postings, df honest") {
    val df = SparkEntry.queries("q138_inverted_index")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val df_ = r.getAs[Long]("df")
      val cf = r.getAs[Long]("cf")
      val head = r.getAs[String]("postings_head").split(",")
      assert(df_ >= 5 && cf >= df_, s"df/cf inconsistent: $r")
      assert(head.length == math.min(df_, 8L),
        s"head must hold min(df,8) entries: $r")
      // entries ascend by doc id and each carries a positive tf
      val ids = head.map(_.split(":")(0).toLong)
      assert(ids.sameElements(ids.sorted), s"head not doc-ordered: $r")
      assert(head.forall(_.split(":")(1).toLong >= 1), r.toString)
    }
  }

  test("q139 bitext margin: margin reorders raw cosine, pool bounded") {
    val df = SparkEntry.queries("q139_bitext_margin")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("margin") > 1.0, s"margin gate leaked: $r")
    }
    // one match per left vector
    val ids = rows.map(_.getAs[Long]("a_id"))
    assert(ids.distinct.length == ids.length)
    // the margin criterion must not be a relabeled cosine argmax:
    // on real (non-planted) data at least one probe picks a partner
    // that raw cosine would not rank first — otherwise the
    // neighborhood normalization is dead code
    val q = SparkEntry.queries("q24_knn_brute")(spark, sf)
    // q24 covers probes < 10 only; recompute raw-best inline instead
    val pool = graft.core.Tables.t(spark, sf, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 400)
    val byCos = {
      import org.apache.spark.sql.functions._
      val a = pool.filter(col("label") < 5)
        .select(col("vec_id").as("a_id"), col("embedding").as("va"))
      val b = pool.filter(col("label") >= 5)
        .select(col("vec_id").as("b_id"), col("embedding").as("vb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("a_id")
        .orderBy(col("c").desc, col("b_id"))
      a.join(broadcast(b), col("a_id") =!= col("b_id"))
        .withColumn("c",
          graft.functions.VectorFunctions.cosine(col("va"), col("vb")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("a_id"), col("b_id").as("cos_best"))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val marginBest = rows.map(r =>
      r.getAs[Long]("a_id") -> r.getAs[Long]("b_id")).toMap
    val diverges = marginBest.count { case (a, b) => byCos.get(a).exists(_ != b) }
    assert(diverges > 0,
      "margin selection never diverged from raw cosine — normalization dead")
    assert(q.columns.nonEmpty) // keep q24 referenced (sanity, not timing)
  }

  test("q140 fuzzy join: equi-join blocking, verify prunes ED-2 noise") {
    val df = SparkEntry.queries("q140_fuzzy_ed1_join")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every planted typo recovers a true ED<=1 dictionary match
    import org.apache.spark.sql.functions._
    val planted = graft.core.Tables.t(spark, sf, "part")
      .filter(col("p_partkey") % 7 === 0).count()
    assert(rows.map(_.getAs[Long]("dirty_id")).distinct.length == planted,
      "some planted typo found no dictionary match")
    rows.foreach(r => assert(r.getAs[Long]("lev") <= 1))
    // the levenshtein verify is load-bearing: the deletion-variant join
    // admits ED-2 candidates that must have been pruned
    val del1 = (s: String) =>
      (s.indices.map(i => s.take(i) + s.drop(i + 1)) :+ s).toSet
    val dictionary = graft.core.Tables.t(spark, sf, "part")
      .select("p_name").distinct().collect().map(_.getString(0))
    val dirty = rows.map(_.getAs[String]("dirty_name")).distinct
    val candidatePairs = for {
      dn <- dirty; n <- dictionary
      if del1(dn).intersect(del1(n)).nonEmpty
    } yield (dn, n)
    val ed2 = candidatePairs.count { case (x, y) =>
      // tiny local levenshtein, bounded strings
      val d = Array.tabulate(x.length + 1, y.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length) > 1
    }
    assert(ed2 > 0, "no ED-2 candidate existed — the verify is untested")
  }

  test("q142 checksum: map-side combinable, sensitive to one flipped row") {
    val df = SparkEntry.queries("q142_table_checksum")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") > 0)
      assert(r.getAs[Long]("checksum_lo") > 0 &&
        r.getAs[Long]("checksum_hi") > 0)
    }
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("partial"),
      s"checksum aggregate must combine map-side:\n$p")
    // order independence + sensitivity, on a local frame
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mk = (rows: Seq[(Long, String)]) =>
      rows.toDF("k", "v")
        .select(conv(substring(md5(concat_ws("|", $"k", $"v")), 1, 15),
          16, 10).cast("long").as("h"))
        .agg(sum(expr("h % 1073741824")).as("lo"),
          sum(expr("h div 1073741824")).as("hi"))
        .head()
    val a = mk(Seq((1L, "x"), (2L, "y"), (3L, "z")))
    val b = mk(Seq((3L, "z"), (1L, "x"), (2L, "y")))
    val c = mk(Seq((1L, "x"), (2L, "y"), (3L, "w")))
    assert(a == b, "checksum must be insertion-order independent")
    assert(a != c, "checksum must move when a value changes")
    // null canonicalization: with the sentinel discipline, a null in
    // column 2 vs column 3 must NOT collide (raw concat_ws would skip
    // the null and hash both rows identically)
    val mkN = (rows: Seq[(String, String)]) =>
      rows.toDF("u", "v")
        .select(conv(substring(md5(concat_ws("|",
          coalesce($"u", lit("<NULL>")), coalesce($"v", lit("<NULL>")))),
          1, 15), 16, 10).cast("long").as("h"))
        .agg(sum(expr("h % 1073741824")).as("lo")).head()
    val nullMid = mkN(Seq(("a", null)))
    val nullEnd = mkN(Seq((null, "a")))
    assert(nullMid != nullEnd,
      "null position must be distinguishable in the canonical form")
  }

  test("q141 OHLC: bar invariants hold and events are conserved") {
    val df = SparkEntry.queries("q141_ohlc_bars")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"))
      assert(l <= h && l <= o && o <= h && l <= c && c <= h,
        s"bar bounds violated: $r")
      assert(r.getAs[Long]("n_events") >= 1)
    }
    val total = graft.core.Tables.t(spark, sf, "events").count()
    assert(rows.map(_.getAs[Long]("n_events")).sum === total,
      "bars must conserve the event count")
  }

  test("q144 RRF: fusion is load-bearing, not a relabeled single arm") {
    val df = SparkEntry.queries("q144_rrf_fusion")(spark, sf)
    val rows = df.collect()
    val probes = rows.map(_.getAs[Long]("probe_id")).distinct
    assert(probes.length >= 2)
    probes.foreach { p =>
      val mine = rows.filter(_.getAs[Long]("probe_id") == p)
        .sortBy(_.getAs[Long]("rank"))
      assert(mine.map(_.getAs[Long]("rank")).toSeq == (1L to 10L),
        s"probe $p must emit ranks 1..10")
    }
    // somewhere the fused winner is ranked first by NEITHER arm alone —
    // otherwise the fusion never changed an outcome on this corpus
    val fusedMoves = rows.filter(r => r.getAs[Long]("rank") == 1 &&
      r.getAs[Long]("r_lex") != 1 && r.getAs[Long]("r_vec") != 1)
    val armsDisagree = rows.filter(r =>
      r.getAs[Long]("r_lex") != r.getAs[Long]("r_vec"))
    assert(armsDisagree.nonEmpty, "both arms identical — fusion vacuous")
    assert(fusedMoves.nonEmpty || armsDisagree.length > rows.length / 2,
      "fusion outcome indistinguishable from a single arm")
  }

  test("q145 KMV algebra: union estimate inside the k=64 error envelope") {
    val df = SparkEntry.queries("q145_kmv_algebra")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 10) // C(5,2) source pairs
    rows.foreach { r =>
      val exactU = r.getAs[Long]("exact_union").toDouble
      val estU = r.getAs[Double]("est_union")
      // Bar-Yossef k=64: relative sigma ~ 1/sqrt(k-1) ~ 12.6%; allow 3x
      assert(math.abs(estU - exactU) / exactU < 0.4,
        s"union estimate outside envelope: $r")
      val rho = r.getAs[Long]("rho")
      assert(rho >= 0 && rho <= 64)
      assert(r.getAs[Long]("exact_inter") <=
        math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
      assert(r.getAs[Double]("est_inter") >= 0.0)
    }
    // the sketches must actually compress: every pair set is far
    // larger than k, so the estimate is doing real work
    rows.foreach(r => assert(r.getAs[Long]("exact_union") > 64 * 10))
  }

  test("q146 count-min: one-sided error, collision mass within theory") {
    val df = SparkEntry.queries("q146_countmin")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getAs[Long]("exact_n")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("est_n") >= r.getAs[Long]("exact_n"),
        s"CM must never underestimate: $r")
      assert(r.getAs[Long]("overestimate") ===
        r.getAs[Long]("est_n") - r.getAs[Long]("exact_n"))
    }
    // standard guarantee: overestimate <= e*N/w with prob 1 - e^-d per
    // key (w=64, d=4) — allow the expected tail across all keys
    val bound = math.ceil(math.E * n / 64.0).toLong
    val tail = rows.count(_.getAs[Long]("overestimate") > bound)
    assert(tail.toDouble / rows.length < 0.1,
      s"$tail/${rows.length} keys exceed the e*N/w bound")
    // the matrix really compresses: far more keys than cells touched
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("partial"), s"counter build must map-side combine:\n$p")
  }

  test("q147 latency bands: percentiles ordered, groups time-bounded") {
    val df = SparkEntry.queries("q147_latency_bands")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p95, p99) = (r.getAs[Double]("p50"),
        r.getAs[Double]("p95"), r.getAs[Double]("p99"))
      assert(p50 <= p95 && p95 <= p99, s"percentile order violated: $r")
      assert(r.getAs[Long]("n") >= 1)
    }
  }

  test("q148 attribution: shares sum to one, window gate load-bearing") {
    val df = SparkEntry.queries("q148_attribution")(spark, sf)
    val rows = df.collect()
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9, s"shares must sum to 1: $shareSum")
    val n = rows.map(_.getAs[Long]("n_conversions")).sum
    val purchases = graft.core.Tables.t(spark, sf, "events")
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .count()
    assert(n === purchases, "every conversion gets exactly one credit")
    // multiple real touch types get credit (attribution not vacuous)
    assert(rows.count(_.getAs[String]("credit") != "none") >= 2)
  }

  test("q143 batch packing: bucketing beats FIFO on every source") {
    val df = SparkEntry.queries("q143_batch_packing")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fifo = r.getAs[Double]("eff_fifo")
      val bucketed = r.getAs[Double]("eff_bucketed")
      assert(bucketed >= fifo,
        s"length bucketing must not lose to FIFO: $r")
      assert(bucketed <= 1.0 && fifo > 0.0)
      // mass conservation: padded + useful = batch capacity >= tokens
      assert(r.getAs[Long]("padded_bucketed") >= 0 &&
        r.getAs[Long]("padded_fifo") >= 0)
    }
    // the policy contrast is strict somewhere, or the comparison is
    // vacuous on this corpus
    assert(rows.exists(r =>
      r.getAs[Double]("eff_bucketed") > r.getAs[Double]("eff_fifo")))
  }

  test("q326 image near-dup: banded equi-join, text never shuffles") {
    val df = SparkEntry.queries("q326_image_neardup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // raw text is consumed by the hash UDF projection and must not
    // appear in any exchange (only ids + band ints move)
    val exchanges = p.split("\n").filter(_.contains("Exchange"))
    assert(!exchanges.exists(_.contains("pre")),
      s"payload column crosses a shuffle:\n${exchanges.mkString("\n")}")
  }
}
