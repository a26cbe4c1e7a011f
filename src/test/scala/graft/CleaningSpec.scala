package graft

import org.apache.spark.sql.functions._

import graft.queries.Cleaning

/** Edge-case oracles for the Cleaning pack (q128 exact-substring dedup,
  * q129 per-source boilerplate) that the sf0.01 DuckDB gate can't pin
  * down individually: excision-run merging (adjacent windows, the
  * gap==W boundary, doc-initial and doc-final runs) on crafted corpora
  * with hand-computed expectations, plus the ids-only-shuffle plan
  * contract the pack header promises (document text never crosses an
  * exchange).
  */
class CleaningSpec extends SparkTestBase {
  import spark.implicits._

  private val W = Cleaning.SubstrW

  /** Crafted corpus → temp dir holding documents.parquet. All doc ids
    * avoid multiples of 6 so q128's planted-paragraph augmentation is a
    * no-op and the texts below are exactly what the query sees. */
  private def writeDocs(docs: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("cleaning-spec").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("s"), (col("doc_id") % 3).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def words(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => f"$prefix$i%02d")

  private def q128(dir: String) =
    SparkEntry.queries("q128_substring_dedup")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

  test("q128: full-copy doc collapses to ONE merged excision run") {
    // doc 2 is a verbatim copy of doc 1 (40 words): all 17 of its
    // windows are flagged, consecutive positions merge to a single run
    // covering the whole doc — kept_frac exactly 0.
    val a = words("dupa", 40).mkString(" ")
    val out = q128(writeDocs(Seq(1L -> a, 2L -> a)))
    val d1 = out(1L); val d2 = out(2L)
    assert(d1.getAs[Long]("n_windows") === 17L)
    assert(d1.getAs[Long]("n_dup_windows") === 0L)
    assert(d1.getAs[Long]("words_excised") === 0L)
    assert(d1.getAs[Double]("kept_frac") === 1.0)
    assert(d2.getAs[Long]("n_dup_windows") === 17L)
    assert(d2.getAs[Long]("n_runs") === 1L)
    assert(d2.getAs[Long]("words_excised") === 40L)
    assert(d2.getAs[Double]("kept_frac") === 0.0)
  }

  test("q128: two far-apart shared spans stay TWO runs, near spans merge") {
    // doc 3 holds spans S1 and S2 (24 words each, 5 unique words apart);
    // doc 4 repeats both with 30 unique words between — flagged windows
    // at p=11 and p=65, gap 54 > W ⇒ two runs of exactly one window
    // (24 words) each.
    val s1 = words("sa", W); val s2 = words("sb", W)
    val doc3 = (s1 ++ words("u3f", 5) ++ s2).mkString(" ")
    val doc4 = (words("u4a", 10) ++ s1 ++ words("u4b", 30) ++ s2 ++
      words("u4c", 10)).mkString(" ")
    val out = q128(writeDocs(Seq(3L -> doc3, 4L -> doc4)))
    val d3 = out(3L); val d4 = out(4L)
    assert(d3.getAs[Long]("words_excised") === 0L)
    assert(d4.getAs[Long]("n_dup_windows") === 2L)
    assert(d4.getAs[Long]("n_runs") === 2L)
    assert(d4.getAs[Long]("words_excised") === 48L)
    assert(d4.getAs[Long]("n_words") === 98L)
    assert(d4.getAs[Double]("kept_frac") === (98.0 - 48.0) / 98.0)
  }

  test("q128: gap exactly == W merges into one conservative run") {
    // doc 10 holds S5 <10 unique> S6; doc 11 is S5 immediately followed
    // by S6 — flagged at p=1 and p=25 (the boundary-crossing windows
    // are unique to doc 11), gap == W, NOT > W ⇒ ONE run spanning the
    // entire 48-word doc. The defined semantics excise conservatively.
    val s5 = words("va", W); val s6 = words("vb", W)
    val doc10 = (s5 ++ words("z", 10) ++ s6).mkString(" ")
    val doc11 = (s5 ++ s6).mkString(" ")
    val out = q128(writeDocs(Seq(10L -> doc10, 11L -> doc11)))
    val d11 = out(11L)
    assert(d11.getAs[Long]("n_dup_windows") === 2L)
    assert(d11.getAs[Long]("n_runs") === 1L)
    assert(d11.getAs[Long]("words_excised") === 48L)
    assert(d11.getAs[Double]("kept_frac") === 0.0)
  }

  test("q128: doc-initial and doc-final runs anchor correctly") {
    // S3 opens docs 5 and 7 (p=1 run in doc 7); S4 closes docs 8 and 9
    // (run at the LAST window p = N-W+1 = 21 in doc 9).
    val s3 = words("wa", W); val s4 = words("wb", W)
    val out = q128(writeDocs(Seq(
      5L -> (s3 ++ words("g5", 20)).mkString(" "),
      7L -> (s3 ++ words("g7", 20)).mkString(" "),
      8L -> (words("h8", 20) ++ s4).mkString(" "),
      9L -> (words("h9", 20) ++ s4).mkString(" "))))
    val d7 = out(7L); val d9 = out(9L)
    assert(d7.getAs[Long]("n_runs") === 1L)
    assert(d7.getAs[Long]("n_dup_windows") === 1L)
    assert(d7.getAs[Long]("words_excised") === W.toLong)
    assert(d9.getAs[Long]("n_runs") === 1L)
    assert(d9.getAs[Long]("n_dup_windows") === 1L)
    assert(d9.getAs[Long]("words_excised") === W.toLong)
    // first-occurrence docs keep everything
    assert(out(5L).getAs[Long]("words_excised") === 0L)
    assert(out(8L).getAs[Long]("words_excised") === 0L)
  }

  test("q128 plan: only (id, position, fingerprint) rows cross shuffles") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Aggregate}
    val df = SparkEntry.queries("q128_substring_dedup")(spark, sf)
    val plan = df.queryExecution.optimizedPlan
    // every window/aggregate (the exchange consumers) must see skinny
    // rows — never the text or the token array the fingerprints came from
    val winInputs = plan.collect { case w: LWindow => w.child.output.map(_.name) }
    val aggInputs = plan.collect { case a: Aggregate => a.child.output.map(_.name) }
    assert(winInputs.nonEmpty && aggInputs.nonEmpty)
    (winInputs ++ aggInputs).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("tk"),
        s"document text/tokens flow into a shuffle consumer: $cols")
    }
  }

  test("q129 plan: lines collapse to md5 before any exchange; output sane") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = SparkEntry.queries("q129_source_boilerplate")(spark, sf)
    val aggInputs = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a.child.output.map(_.name)
    }
    assert(aggInputs.nonEmpty)
    aggInputs.foreach { cols =>
      assert(!cols.contains("t") && !cols.contains("text") &&
        !cols.contains("line"),
        s"raw line text flows into an aggregate: $cols")
    }
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // kept + removed must tile the total, and the planted per-source
      // footer (2 of 3 docs ≥ 30%) guarantees at least one boiler line
      assert(r.getAs[Long]("n_lines_kept") ===
        r.getAs[Long]("n_lines_total") - r.getAs[Long]("n_occurrences_removed"))
      assert(r.getAs[Long]("n_boiler_lines") >= 1L,
        s"planted footer not detected for ${r.getAs[String]("source")}")
      assert(r.getAs[Long]("n_docs_affected") <= r.getAs[Long]("n_occurrences_removed"))
    }
  }
}
